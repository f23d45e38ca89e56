"""Deduplication suite for large-scale training-data pipelines:
exact (hash groupBy), n-gram Jaccard, MinHash+LSH, SimHash, and
embedding-cosine near-dup.

All deterministic and engine-portable: hashing is md5-based (identical
hex in Spark and DuckDB), so every operator here has an exact SQL twin
for the oracle gate. The reference's dedup is a bounded-LRU *flag*
filter (src/bolts/tokenizer.py:176-196); that streaming form is the
per-epoch fold in streaming/dedup_state.py — these are the
corpus-level batch forms.

Scale notes (100 TB): every pairwise operator goes through an explode →
hash-join on a short key (shingle / band bucket / simhash band), never
a cross join; candidate verification joins are bounded by bucket sizes.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from ..functions import exact

# ---------------------------------------------------------------------------
# shingling
# ---------------------------------------------------------------------------


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles (lowercased, whitespace tokens)."""
    toks = F.split(F.trim(F.lower(F.coalesce(text, F.lit("")))), r"\s+")
    cnt = F.size(toks)
    starts = F.sequence(F.lit(1), F.greatest(cnt - (n - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(starts, lambda i: F.array_join(F.slice(toks, i, n), " "))
    )


def sql_word_shingles(text_expr: str, n: int = 3) -> str:
    toks = f"string_split_regex(trim(lower(coalesce({text_expr}, ''))), '\\s+')"
    starts = f"range(1, greatest(len({toks}) - {n - 1}, 1) + 1)"
    return (
        f"list_distinct(list_transform({starts}, "
        f"i -> array_to_string(list_slice({toks}, i, i + {n - 1}), ' ')))"
    )


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dup_groups(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Hash-groupBy exact dedup: one row per duplicated text with the
    canonical (min) id and the duplicate count. Single shuffle on the
    md5 — at 100 TB this is the cheapest possible full-corpus dedup."""
    return (
        df.select(F.col(id_col), F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias("text_md5"))
        .groupBy("text_md5")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
        .where(F.col("n_dups") > 1)
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup (exact pairwise over shingle-join candidates)
# ---------------------------------------------------------------------------


def hot_keys(flat: DataFrame, key: str, cap: int) -> DataFrame:
    """Keys whose document frequency exceeds `cap` — the candidate-
    generation poison at scale: ONE boilerplate shingle (or one overfull
    LSH bucket) shared by 1M docs creates a quadratic candidate set.
    The result is by construction tiny (≤ distinct_keys/cap rows), so
    the caller anti-joins it broadcast. Callers should count/log it —
    no silent capping (tests/test_operators.py checks what it reports)."""
    return (
        flat.groupBy(key)
        .agg(F.count(F.lit(1)).alias("key_df"))
        .where(F.col("key_df") > cap)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.6,
    max_doc_freq: int | None = 1000,
) -> DataFrame:
    """Pairs (id_a < id_b) with Jaccard(shingles_a, shingles_b) ≥ t.

    explode → self-equi-join on shingle → count per pair = |∩|, then
    |∪| = |A|+|B|-|∩|. Candidate generation is the shingle join, so
    disjoint documents never meet (no cross product).

    `max_doc_freq` drops shingles shared by more than that many docs
    from candidate generation (broadcast anti-join against the tiny
    hot-key set) — without it one boilerplate sentence shared by 1M
    docs yields ~10^12 candidate pairs. Dropped shingles still count
    in |A|/|B| (denominator unchanged); pairs whose ONLY common
    shingles are boilerplate no longer surface, which is the point.
    The same cap is applied in the SQL oracle twin."""
    sh = df.select(
        F.col(id_col).alias("doc"), word_shingles(F.col(text_col), n).alias("sh")
    ).withColumn("n_sh", F.size("sh"))
    flat = sh.select("doc", "n_sh", F.explode("sh").alias("shingle"))
    # ONE shuffle of the exploded shingle stream, on the join key; both
    # self-join sides reuse it (AQE ReusedExchange). The doc-frequency
    # cap is a count-over-window ON that same partitioning — not a
    # separate hot_keys branch: a branch gets column-pruned to a
    # shingle-only subtree, which no longer canonically matches the
    # join sides' exchange, so it re-ran the scan + tokenize + explode
    # (the naive r2 form paid 3 full passes + 3 shuffles over the
    # biggest relation in the query). The window's sort doubles as the
    # sort-merge join's sort. A pathological mega-hot shingle buffers
    # one (spillable) window group before being dropped — bounded by
    # disk, not memory; tests/test_plans.py pins the one-scan shape.
    flat = flat.repartition("shingle")
    if max_doc_freq is not None:
        w = Window.partitionBy("shingle")
        flat = (
            flat.withColumn("_key_df", F.count(F.lit(1)).over(w))
            .where(F.col("_key_df") <= max_doc_freq)
            .drop("_key_df")
        )
    a = flat.select(
        F.col("doc").alias("id_a"), F.col("n_sh").alias("na"), "shingle"
    )
    b = flat.select(
        F.col("doc").alias("id_b"), F.col("n_sh").alias("nb"), "shingle"
    )
    pairs = (
        a.join(b, on="shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    # exact rational rounding — round(double, 6) is engine-ambiguous
    # at half boundaries, and here the rounded value also gates the
    # threshold filter, so a boundary tie could flip row MEMBERSHIP
    # (functions/exact.py)
    jac = exact.round6_ratio(
        F.col("inter"), F.col("na") + F.col("nb") - F.col("inter")
    )
    return (
        pairs.withColumn("jaccard", jac)
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def sql_ngram_jaccard_pairs(
    table: str,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.6,
    max_doc_freq: int | None = 1000,
) -> str:
    sh = sql_word_shingles(text_col, n)
    df_filter = (
        f"QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= {max_doc_freq}"
        if max_doc_freq is not None
        else ""
    )
    return f"""
    WITH sh AS (
        SELECT {id_col} AS doc, {sh} AS shl FROM {table}
    ), sized0 AS (
        SELECT doc, len(shl) AS n_sh, unnest(shl) AS shingle FROM sh
    ), sized AS (
        SELECT * FROM sized0 {df_filter}
    ), pairs AS (
        SELECT a.doc AS id_a, b.doc AS id_b, a.n_sh AS na, b.n_sh AS nb,
               CAST(COUNT(*) AS BIGINT) AS inter
        FROM sized a JOIN sized b ON a.shingle = b.shingle AND a.doc < b.doc
        GROUP BY 1, 2, 3, 4
    )
    SELECT id_a, id_b,
           {exact.sql_round6_ratio("inter", "na + nb - inter")} AS jaccard
    FROM pairs
    WHERE {exact.sql_round6_ratio("inter", "na + nb - inter")} >= {threshold}
    """


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str = "text", k: int = 8, n: int = 3
) -> DataFrame:
    """k-component MinHash: component s = min over shingles of
    md5('{s}:' || shingle) — md5 hex min is engine-portable and
    uniformly distributed. One explode + one groupBy shuffle."""
    sh = df.select(
        F.col(id_col).alias("doc"), F.explode(word_shingles(F.col(text_col), n)).alias("shingle")
    )
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{s}:"), F.col("shingle")))).alias(f"mh{s}")
        for s in range(k)
    ]
    return sh.groupBy("doc").agg(*aggs)


def banded_buckets(sig: DataFrame, k: int, rows_per_band: int) -> DataFrame:
    """Explode a minhash signature table into (doc, mh0..mh{k-1}, band,
    bucket) rows — one row per band, bucket = md5 of the band's
    signature components. This IS the persisted LSH index layout: at
    scale the output is written once, bucketed by (band, bucket), and
    every later similarity/dedup job joins against it instead of
    re-shingling the corpus."""
    n_bands = k // rows_per_band
    bands = []
    for band in range(n_bands):
        comps = [f"mh{band * rows_per_band + r}" for r in range(rows_per_band)]
        bands.append(
            F.struct(
                F.lit(band).alias("band"),
                F.md5(F.concat_ws("|", *comps)).alias("bucket"),
            )
        )
    return sig.select(
        "doc", *[F.col(f"mh{i}") for i in range(k)], F.explode(F.array(*bands)).alias("bb")
    ).select("doc", *[f"mh{i}" for i in range(k)], "bb.band", "bb.bucket")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 8,
    rows_per_band: int = 2,
    n: int = 3,
    threshold: float = 0.5,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """LSH candidate pairs with minhash-estimated similarity ≥ t.

    Band bucket join: docs sharing all rows of any band land in the
    same bucket (shuffle key = (band, bucket-hash)); estimate =
    (# equal signature components)/k over candidates. The estimate
    converges to true Jaccard; the exact verifier is
    ngram_jaccard_pairs run on the candidate subset.

    `max_bucket_size` drops (band, bucket) groups holding more than
    that many docs before the self-join — an overfull bucket (e.g. a
    minhash tier dominated by boilerplate) is the standard first
    failure of LSH at 100 TB: one 1M-doc bucket = 10^12 pairs. A true
    near-dup cluster bigger than the cap still pairs through its OTHER
    bands (n_bands chances per pair). Same cap in the SQL twin."""
    sig = minhash_signatures(df, id_col, text_col, k=k, n=n)
    buckets = banded_buckets(sig, k, rows_per_band)
    # ONE shuffle of the banded signatures, on the bucket-join key —
    # both self-join sides reuse this exchange (AQE ReusedExchange),
    # and the overfull-bucket cap is a count-over-window on the same
    # partitioning (see ngram_jaccard_pairs for why a separate hot-key
    # branch defeats the reuse). The naive form re-derived the
    # signatures (scan + shingle explode + k md5-min aggregations — the
    # CPU-heaviest stage) once per consumer.
    buckets = buckets.repartition("band", "bucket")
    if max_bucket_size is not None:
        w = Window.partitionBy("band", "bucket")
        buckets = (
            buckets.withColumn("_bsz", F.count(F.lit(1)).over(w))
            .where(F.col("_bsz") <= max_bucket_size)
            .drop("_bsz")
        )

    a = buckets.select(
        F.col("doc").alias("id_a"), *[F.col(f"mh{i}").alias(f"a{i}") for i in range(k)], "band", "bucket"
    )
    b = buckets.select(
        F.col("doc").alias("id_b"), *[F.col(f"mh{i}").alias(f"b{i}") for i in range(k)], "band", "bucket"
    )
    # exact rational rounding of the integer ratio matches/k
    # (functions/exact.py) — round(double, 6) is engine-ambiguous at
    # half boundaries, and m/k CAN land on one (e.g. 1/64-grid values)
    est = exact.round6_ratio(
        sum(
            F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
            for i in range(k)
        ),
        F.lit(k),
    )
    # estimate BEFORE the pair dedup: a pair colliding in several bands
    # yields identical (id_a, id_b, est) rows (same signatures each
    # time), so distinct() on the 3-column result equals distinct() on
    # the 2k+2-column candidates — but the dedup shuffle moves 3 short
    # columns instead of both full signatures.
    return (
        a.join(b, on=["band", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("est_jaccard", est)
        .where(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
        .distinct()
    )


def sql_minhash_lsh_pairs(
    table: str,
    id_col: str,
    text_col: str = "text",
    k: int = 8,
    rows_per_band: int = 2,
    n: int = 3,
    threshold: float = 0.5,
    max_bucket_size: int | None = 1000,
) -> str:
    sh = sql_word_shingles(text_col, n)
    mins = ",\n            ".join(
        f"MIN(md5('{s}:' || shingle)) AS mh{s}" for s in range(k)
    )
    n_bands = k // rows_per_band
    band_rows = []
    for band in range(n_bands):
        comps = " || '|' || ".join(
            f"mh{band * rows_per_band + r}" for r in range(rows_per_band)
        )
        band_rows.append(f"SELECT doc, {', '.join(f'mh{i}' for i in range(k))}, {band} AS band, md5({comps}) AS bucket FROM sig")
    buckets = " UNION ALL ".join(band_rows)
    bucket_filter = (
        f"QUALIFY COUNT(*) OVER (PARTITION BY band, bucket) <= {max_bucket_size}"
        if max_bucket_size is not None
        else ""
    )
    eq_terms = " + ".join(
        f"(CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END)" for i in range(k)
    )
    return f"""
    WITH flat AS (
        SELECT {id_col} AS doc, unnest({sh.replace(text_col, text_col)}) AS shingle FROM {table}
    ), sig AS (
        SELECT doc, {mins} FROM flat GROUP BY doc
    ), buckets0 AS (
        {buckets}
    ), buckets AS (
        SELECT * FROM buckets0 {bucket_filter}
    ), cand AS (
        SELECT DISTINCT a.doc AS id_a, b.doc AS id_b,
               {exact.sql_round6_ratio(f"({eq_terms})", str(k))} AS est_jaccard
        FROM buckets a JOIN buckets b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc < b.doc
    )
    SELECT id_a, id_b, est_jaccard FROM cand WHERE est_jaccard >= {threshold}
    """


# ---------------------------------------------------------------------------
# incremental dedup: new batch vs persisted corpus index
# ---------------------------------------------------------------------------


def incremental_lsh_matches(
    corpus: DataFrame,
    new: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 8,
    rows_per_band: int = 2,
    n: int = 3,
    threshold: float = 0.5,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Flag NEW docs that are near-dups of the existing CORPUS — the
    daily-ingest pattern at 100 TB: dedup today's crawl against the
    accumulated corpus WITHOUT pairing corpus docs with each other and
    without re-shingling the corpus. The corpus side here computes its
    signatures inline for self-containment; in production it is the
    bucketed (band, bucket)-partitioned signature index the previous
    run persisted (see `banded_buckets`), so the daily cost is
    O(|new|) shingling + one join that shuffles ONLY the new side
    (corpus index already bucket-partitioned → one-sided shuffle).

    The reference's analog is the bounded-LRU seen-before filter
    (src/bolts/abstracts.py:116-133), which only catches exact repeats
    within its memory horizon; this is the corpus-lifetime near-dup
    form.

    Output: one row per matched new doc — (new_id, match_id, est_jaccard)
    with the best corpus match (ties broken by min corpus id, so the
    result is deterministic and oracle-hashable).
    """
    cb = banded_buckets(
        minhash_signatures(corpus, id_col, text_col, k=k, n=n), k, rows_per_band
    )
    # Overfull-bucket cap on the CORPUS side only (the index side is
    # where a boilerplate-dominated bucket lives; the new batch is
    # small by construction). Same window-on-the-join-partitioning
    # trick as minhash_lsh_pairs: one exchange serves cap + join.
    cb = cb.repartition("band", "bucket")
    if max_bucket_size is not None:
        w = Window.partitionBy("band", "bucket")
        cb = (
            cb.withColumn("_bsz", F.count(F.lit(1)).over(w))
            .where(F.col("_bsz") <= max_bucket_size)
            .drop("_bsz")
        )
    nb = banded_buckets(
        minhash_signatures(new, id_col, text_col, k=k, n=n), k, rows_per_band
    )
    a = nb.select(
        F.col("doc").alias("new_id"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(k)],
        "band",
        "bucket",
    )
    b = cb.select(
        F.col("doc").alias("match_id"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(k)],
        "band",
        "bucket",
    )
    est = exact.round6_ratio(
        sum(
            F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
            for i in range(k)
        ),
        F.lit(k),
    )
    cand = (
        a.join(b, on=["band", "bucket"])
        .withColumn("est_jaccard", est)
        .where(F.col("est_jaccard") >= threshold)
        .select("new_id", "match_id", "est_jaccard")
        .distinct()
    )
    best = Window.partitionBy("new_id").orderBy(
        F.col("est_jaccard").desc(), F.col("match_id").asc()
    )
    return (
        cand.withColumn("_rn", F.row_number().over(best))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def sql_incremental_lsh_matches(
    corpus_sql: str,
    new_sql: str,
    id_col: str,
    text_col: str = "text",
    k: int = 8,
    rows_per_band: int = 2,
    n: int = 3,
    threshold: float = 0.5,
    max_bucket_size: int | None = 1000,
) -> str:
    """DuckDB twin of incremental_lsh_matches; `corpus_sql`/`new_sql`
    are SELECTs producing (doc, text-expr aliased to `t`)."""
    sh = sql_word_shingles("t", n)
    mins = ",\n            ".join(
        f"MIN(md5('{s}:' || shingle)) AS mh{s}" for s in range(k)
    )
    n_bands = k // rows_per_band

    def bands(src: str) -> str:
        rows = []
        for band in range(n_bands):
            comps = " || '|' || ".join(
                f"mh{band * rows_per_band + r}" for r in range(rows_per_band)
            )
            rows.append(
                f"SELECT doc, {', '.join(f'mh{i}' for i in range(k))}, "
                f"{band} AS band, md5({comps}) AS bucket FROM {src}"
            )
        return " UNION ALL ".join(rows)

    cap = (
        f"QUALIFY COUNT(*) OVER (PARTITION BY band, bucket) <= {max_bucket_size}"
        if max_bucket_size is not None
        else ""
    )
    eq_terms = " + ".join(
        f"(CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END)" for i in range(k)
    )
    return f"""
    WITH corpus_docs AS ({corpus_sql}),
    new_docs AS ({new_sql}),
    cflat AS (SELECT doc, unnest({sh}) AS shingle FROM corpus_docs),
    csig AS (SELECT doc, {mins} FROM cflat GROUP BY doc),
    cb0 AS ({bands('csig')}),
    cb AS (SELECT * FROM cb0 {cap}),
    nflat AS (SELECT doc, unnest({sh}) AS shingle FROM new_docs),
    nsig AS (SELECT doc, {mins} FROM nflat GROUP BY doc),
    nb AS ({bands('nsig')}),
    cand AS (
        SELECT DISTINCT a.doc AS new_id, b.doc AS match_id,
               {exact.sql_round6_ratio(f"({eq_terms})", str(k))} AS est_jaccard
        FROM nb a JOIN cb b ON a.band = b.band AND a.bucket = b.bucket
    )
    SELECT new_id, match_id, est_jaccard
    FROM cand
    WHERE est_jaccard >= {threshold}
    QUALIFY row_number() OVER (
        PARTITION BY new_id ORDER BY est_jaccard DESC, match_id ASC) = 1
    """


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(text: Column, bits: int = 32) -> Column:
    """`bits`-bit SimHash over distinct word tokens; bit i of a token is
    the high bit of hex digit i of md5(token) (engine-portable). The
    document bit is the sign of the ±1 vote sum.

    Single-pass shape: one aggregate over the token array carrying a
    `bits`-wide vote vector (zip_with add), md5 computed once per token
    — the naive per-bit form re-traverses the array (and re-hashes
    every token) `bits` times, which made this the slowest text
    operator at sf0.1. Semantics (and the DuckDB oracle) unchanged."""
    assert bits <= 32
    toks = F.array_distinct(
        F.split(F.trim(F.lower(F.coalesce(text, F.lit("")))), r"\s+")
    )

    def token_votes(t: Column) -> Column:
        h = F.md5(t)
        return F.transform(
            F.sequence(F.lit(1), F.lit(bits)),
            lambda i: F.when(
                F.conv(h.substr(i, F.lit(1)), 16, 10).cast("int") >= 8, F.lit(1)
            ).otherwise(F.lit(-1)),
        )

    votes = F.aggregate(
        toks,
        F.array_repeat(F.lit(0), bits),
        lambda acc, t: F.zip_with(acc, token_votes(t), lambda a, v: a + v),
    )
    powers = F.array(*[F.lit(1 << i).cast("long") for i in range(bits)])
    return F.aggregate(
        F.zip_with(
            votes,
            powers,
            lambda v, p: F.when(v > 0, p).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def sql_simhash(text_expr: str, bits: int = 32) -> str:
    toks = (
        f"list_distinct(string_split_regex(trim(lower(coalesce({text_expr}, ''))), '\\s+'))"
    )
    parts = []
    for i in range(bits):
        vote = (
            f"list_sum(list_transform({toks}, t -> CASE WHEN "
            f"substr(md5(t), {i + 1}, 1) IN ('8','9','a','b','c','d','e','f') "
            f"THEN 1 ELSE -1 END))"
        )
        parts.append(f"(CASE WHEN {vote} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END)")
    return "(" + " + ".join(parts) + ")"


# ---------------------------------------------------------------------------
# exact substring dedup — rolling fixed-width window hashes
# ---------------------------------------------------------------------------


def substring_dup_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 12,
    reuse: str = "persist",
) -> DataFrame:
    """Exact substring duplication, Spark-first recast of the
    suffix-array pass in Lee et al. 2022 ("Deduplicating Training Data
    Makes Language Models Better"): a span is duplicated iff some
    `window`-word substring of it appears verbatim in another document.
    Rolling window hashes at stride 1 detect exactly the spans a
    suffix array of matches >= `window` words would — without the
    non-distributable global suffix sort.

    Per doc: n_windows (positions), n_shared (positions whose window
    text occurs in >= 2 distinct docs), dup_substring_frac. Docs
    shorter than `window` words have 0 windows and a null fraction
    (never a fabricated gram).

    Scale shape: explode_outer to (doc, whash) (empty docs keep a
    null-whash row so they reach the output), per-position counts
    pre-aggregated map-side; sharedness is a groupBy on the 32-char
    hash (counts only — window *text* never shuffles); one equi-join
    back on whash. Hot boilerplate windows are bounded rows with
    partial aggregation, not pair expansions or single-task window
    partitions. The (doc, whash) pre-agg feeds both the sharedness agg
    and the join's left side; Catalyst pushes the sharedness branch's
    null filter below the pre-agg, which breaks exchange reuse and
    would hash the corpus twice — so reuse='persist' (default)
    persists the narrow pre-agg (hash + id + count, far smaller than
    the text) for the duration of the job; reuse='recompute' trades
    that memory/disk for a second scan+hash pass."""
    toks = F.filter(
        F.split(F.trim(F.lower(F.coalesce(F.col(text_col), F.lit("")))), r"\s+"),
        lambda x: x != "",
    )
    cnt = F.size(toks)
    starts = F.when(cnt >= window, F.sequence(F.lit(1), cnt - window + 1)).otherwise(
        F.array()
    )
    wins = F.transform(
        starts, lambda i: F.md5(F.array_join(F.slice(toks, i, window), " "))
    )
    per_doc_hash = (
        df.select(
            F.col(id_col).alias("doc_id"), F.explode_outer(wins).alias("whash")
        )
        .groupBy("doc_id", "whash")
        .agg(F.count(F.lit(1)).alias("n_pos"))
    )
    if reuse == "persist":
        from pyspark import StorageLevel

        per_doc_hash = per_doc_hash.persist(StorageLevel.MEMORY_AND_DISK)
    shared = (
        per_doc_hash.where(F.col("whash").isNotNull())
        .groupBy("whash")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") >= 2)
        .select("whash", F.lit(True).alias("is_shared"))
    )
    pos_valid = F.when(F.col("whash").isNotNull(), F.col("n_pos")).otherwise(F.lit(0))
    per_doc = (
        # plain equi-join: the shared-hash set is corpus-sized in the
        # worst case (boilerplate), so it must be allowed to shuffle;
        # AQE downgrades to broadcast when the set turns out small
        per_doc_hash.join(shared, on="whash", how="left")
        .groupBy("doc_id")
        .agg(
            F.sum(pos_valid).alias("n_windows"),
            F.sum(F.when(F.col("is_shared"), F.col("n_pos")).otherwise(F.lit(0))).alias(
                "n_shared_raw"
            ),
        )
    )
    return per_doc.select(
        "doc_id",
        F.col("n_windows").cast("long").alias("n_windows"),
        F.when(F.col("n_windows") > 0, F.col("n_shared_raw"))
        .cast("long")
        .alias("n_shared"),
        F.when(
            F.col("n_windows") > 0,
            exact.round6_ratio(F.col("n_shared_raw"), F.col("n_windows")),
        ).alias("dup_substring_frac"),
    )


def sql_substring_dup_stats(
    table: str, id_col: str = "doc_id", text_col: str = "text", window: int = 12
) -> str:
    """DuckDB twin — identical tokenization, window hashing, and null
    semantics for short docs."""
    toks = (
        f"list_filter(string_split_regex(trim(lower(coalesce({text_col}, ''))),"
        f" '\\s+'), x -> x <> '')"
    )
    return f"""
    WITH base AS (
        SELECT {id_col} AS doc_id,
            CASE WHEN len({toks}) >= {window}
                 THEN list_transform(range(1, len({toks}) - {window} + 2),
                      i -> md5(array_to_string(
                          list_slice({toks}, i, i + {window} - 1), ' ')))
                 ELSE [] END AS wins
        FROM {table}
    ), per_doc_hash AS (
        SELECT doc_id, whash, CAST(COUNT(*) AS BIGINT) AS n_pos
        FROM base, unnest(wins) u(whash) GROUP BY doc_id, whash
    ), shared AS (
        SELECT whash FROM per_doc_hash GROUP BY whash HAVING COUNT(*) >= 2
    ), dup_pos AS (
        SELECT doc_id, SUM(n_pos) AS n_shared
        FROM per_doc_hash WHERE whash IN (SELECT whash FROM shared)
        GROUP BY doc_id
    )
    SELECT b.doc_id,
        CAST(len(b.wins) AS BIGINT) AS n_windows,
        CASE WHEN len(b.wins) > 0
             THEN CAST(COALESCE(d.n_shared, 0) AS BIGINT) END AS n_shared,
        CASE WHEN len(b.wins) > 0
             THEN {exact.sql_round6_ratio("COALESCE(d.n_shared, 0)", "len(b.wins)")}
        END AS dup_substring_frac
    FROM base b LEFT JOIN dup_pos d USING (doc_id)
    """
