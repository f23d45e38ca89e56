"""Corpus-lifecycle operators for large-scale training-data pipelines:
near-dup CLUSTER assignment (connected components over pair output),
PII-style redaction, token-budget shard packing, benchmark
decontamination, and per-stratum deterministic sampling.

These close the loop the pairwise dedup suite (operators/dedup.py)
opens: LSH/Jaccard emit *pairs*, but an actual dedup pass needs each
document mapped to a canonical cluster representative — transitively
(A~B, B~C ⇒ {A,B,C} one cluster even if A≁C directly).

Scale notes (100 TB):
- connected components is iterative min-label propagation with pointer
  doubling — O(log diameter) joins, each a plain shuffle on node id;
  lineage is truncated per iteration (localCheckpoint) so the plan does
  not grow with iterations. Near-dup graphs have small components, but
  convergence is checked, not assumed.
- shard packing partitions by `source` so the running token cumsum is a
  per-group window, never a single global ordering (a global ORDER BY
  cumsum would serialize on one task at 100 TB).
- decontamination broadcasts the (small) benchmark shingle set; the
  corpus side stays partition-local until the final per-doc groupBy.
- redaction / sampling are pure column expressions (whole-stage
  codegen; regexes are shared Java/RE2-safe subset so the DuckDB twin
  is exact).

Reference parity: the reference dedups by exact fuzzy-hash equality on
a bounded LRU (src/bolts/tokenizer.py:176-196) — flag semantics live in
the per-epoch fold of streaming/dedup_state.py; these are the
corpus-level batch forms a
training pipeline runs over the accumulated store.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from ..functions import exact

# ---------------------------------------------------------------------------
# connected components: pairs -> clusters
# ---------------------------------------------------------------------------


def dup_clusters(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """(node, cluster_id) for every node appearing in `pairs`, where
    cluster_id = MIN node id of its connected component.

    Min-label propagation with pointer doubling: each round every node
    takes the min of its own label, its neighbors' labels, AND its
    label's label — path lengths halve every round, so convergence is
    O(log diameter) shuffles instead of O(diameter). Each round is two
    hash joins + one groupBy on node id; `localCheckpoint` truncates
    lineage so round k's plan doesn't embed rounds 1..k-1.

    Deterministic and exact: iterates until a round changes nothing
    (driver-side count — a scalar action, not a collect of data).
    Raises if max_iter rounds don't converge rather than returning a
    partial clustering silently."""
    edges = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    edges = edges.union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
    edges = edges.distinct().localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        nbr_min = (
            edges.join(
                labels.select(
                    F.col("node").alias("b"), F.col("label").alias("nbl")
                ),
                on="b",
            )
            .groupBy("a")
            .agg(F.min("nbl").alias("nbr_label"))
            .withColumnRenamed("a", "node")
        )
        # pointer doubling: my label's current label
        hop = labels.select(
            F.col("node").alias("label"), F.col("label").alias("hop_label")
        )
        new_labels = (
            labels.join(nbr_min, on="node", how="left")
            .join(hop, on="label", how="left")
            .select(
                "node",
                F.least(
                    F.col("label"),
                    F.coalesce(F.col("nbr_label"), F.col("label")),
                    F.coalesce(F.col("hop_label"), F.col("label")),
                ).alias("label"),
                F.col("label").alias("old_label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = new_labels.where(F.col("label") != F.col("old_label")).count()
        labels = new_labels.drop("old_label")
        if changed == 0:
            return labels.select(F.col("node"), F.col("label").alias("cluster_id"))
    raise RuntimeError(f"dup_clusters did not converge in {max_iter} rounds")


def sql_dup_clusters(pairs_sql: str, src: str = "id_a", dst: str = "id_b") -> str:
    """DuckDB twin: recursive transitive closure (fine at oracle scale;
    the Spark side is the log-rounds form that survives 100 TB)."""
    return f"""
    WITH RECURSIVE pairs AS ({pairs_sql}),
    edges AS (
        SELECT {src} AS a, {dst} AS b FROM pairs
        UNION
        SELECT {dst} AS a, {src} AS b FROM pairs
    ),
    reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    )
    SELECT a AS node, least(a, MIN(b)) AS cluster_id FROM reach GROUP BY a
    """


def apply_dedup(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """The end of the dedup pipeline: given near-dup PAIRS (from
    LSH/Jaccard/embedding candidates), drop every cluster member except
    its canonical representative (the MIN id of its connected
    component) — the pass that actually shrinks a training corpus.

    Shape: connected components over the (tiny relative to the corpus)
    pair set, then one LEFT ANTI join of the corpus against the
    non-canonical member ids — the corpus itself never self-joins and
    keeps its partitioning. Returns the kept rows of `df` unchanged."""
    clusters = dup_clusters(pairs, src=src, dst=dst)
    drop = clusters.where(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias(id_col)
    )
    return df.join(drop, on=id_col, how="left_anti")


def sql_apply_dedup(
    table: str,
    pairs_sql: str,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
    select: str = "*",
) -> str:
    clusters = sql_dup_clusters(pairs_sql, src=src, dst=dst)
    return f"""
    SELECT {select} FROM {table} t
    WHERE NOT EXISTS (
        SELECT 1 FROM ({clusters}) c
        WHERE c.node <> c.cluster_id AND c.node = t.{id_col}
    )
    """


# ---------------------------------------------------------------------------
# bigram language-model quality score
# ---------------------------------------------------------------------------


def bigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document mean bigram log-probability under the corpus's own
    word-bigram model — the perplexity-style quality filter of real
    pre-training pipelines (fluent text scores high; keyboard mash,
    boilerplate-free gibberish and wrong-language text score low).

    score(d) = mean over bigrams (w1,w2) of d of
               ln( count(w1,w2) / count(w1→·) ),
    with counts from the whole corpus. Docs with < 2 words have no
    bigrams and are omitted from the output (no row).

    Shape (100 TB): bigram extraction is partition-local (sequence/
    transform — no shuffle) and runs ONCE: the exploded stream is
    immediately pre-aggregated to per-(doc, bigram) counts, and that
    single Exchange subtree feeds BOTH the model-training branch
    (groupBy bigram → groupBy context) and the scoring branch (join on
    the bigram key, weighted per-doc mean) via Catalyst's ReuseExchange.
    The naive two-branch form re-ran the scan + tokenize + explode —
    the dominant cost — once per consumer (3 scans at r2); this form
    plan-verifies to 1 scan + 1 ReusedExchange (tests/test_plans.py).
    The per-doc pre-agg also map-side-combines repeated bigrams before
    the shuffle. No Python, no driver-side model."""
    words = F.filter(
        F.split(F.lower(F.trim(F.coalesce(F.col(text_col), F.lit("")))), r"\s+"),
        lambda x: x != "",
    )
    toks = df.select(F.col(id_col), words.alias("_w")).where(F.size("_w") >= 2)
    bigrams = toks.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("_w") - 1),
                lambda i: F.struct(
                    F.element_at("_w", i).alias("w1"),
                    F.element_at("_w", i + 1).alias("w2"),
                ),
            )
        ).alias("bg"),
    ).select(F.col(id_col), F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    # Per-(doc, bigram) occurrence counts — the ONE shuffle the raw
    # bigram stream pays; both branches below hang off this exchange.
    doc_bg = bigrams.groupBy(id_col, "w1", "w2").agg(
        F.count(F.lit(1)).alias("n_dw")
    )
    pair_counts = doc_bg.groupBy("w1", "w2").agg(F.sum("n_dw").alias("n_pair"))
    ctx_counts = pair_counts.groupBy("w1").agg(F.sum("n_pair").alias("n_ctx"))
    model = pair_counts.join(ctx_counts, on="w1").select(
        "w1", "w2",
        F.log(F.col("n_pair").cast("double") / F.col("n_ctx")).alias("lp"),
    )
    # mean over bigram OCCURRENCES = count-weighted mean over distinct
    # per-doc bigrams (identical value, far fewer join rows).
    return (
        doc_bg.join(model, on=["w1", "w2"])
        .groupBy(id_col)
        .agg(
            # half-up micro-unit BIGINT (functions/exact.py): ln() is
            # libm-vs-JVM (ulp differences) and the weighted sum is
            # accumulation-ordered, so the score class is irrational —
            # never ON a quantization grid; round(x, 6) additionally
            # split engines at half boundaries
            exact.half_up_units(
                F.sum(F.col("n_dw") * F.col("lp")) / F.sum("n_dw"), 6
            ).alias("bigram_logprob_e6"),
            F.sum("n_dw").alias("n_bigrams"),
        )
    )


def sql_bigram_logprob(
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    return f"""
    WITH toks AS (
        SELECT {id_col},
            list_filter(string_split_regex(lower(trim(coalesce({text_col},
                ''))), '\\s+'), x -> x <> '') AS w
        FROM {table}
    ), bigrams AS (
        SELECT {id_col}, w[i] AS w1, w[i + 1] AS w2
        FROM toks, unnest(range(1, len(w))) AS t(i)
        WHERE len(w) >= 2
    ), doc_bg AS (
        SELECT {id_col}, w1, w2, CAST(COUNT(*) AS BIGINT) AS n_dw
        FROM bigrams GROUP BY {id_col}, w1, w2
    ), pair_counts AS (
        SELECT w1, w2, SUM(n_dw) AS n_pair FROM doc_bg GROUP BY w1, w2
    ), ctx AS (
        SELECT w1, SUM(n_pair) AS n_ctx FROM pair_counts GROUP BY w1
    ), model AS (
        SELECT p.w1, p.w2, ln(CAST(p.n_pair AS DOUBLE) / c.n_ctx) AS lp
        FROM pair_counts p JOIN ctx c USING (w1)
    )
    SELECT b.{id_col},
           {exact.sql_half_up_units("SUM(b.n_dw * m.lp) / SUM(b.n_dw)", 6)}
               AS bigram_logprob_e6,
           CAST(SUM(b.n_dw) AS BIGINT) AS n_bigrams
    FROM doc_bg b JOIN model m ON b.w1 = m.w1 AND b.w2 = m.w2
    GROUP BY b.{id_col}
    """


# ---------------------------------------------------------------------------
# repetition statistics (Gopher-style quality signals)
# ---------------------------------------------------------------------------


def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Per-document repetition signals — the classic web-corpus quality
    heuristics (duplicate lines / repeated n-grams / one-word-dominance
    mark boilerplate, scraper loops and keyword stuffing; the rule
    family popularized by the Gopher/MassiveText filtering appendix,
    Rae et al. 2021, and C4, Raffel et al. 2020):

    - `dup_line_frac`    1 − distinct/total over newline-split lines
    - `dup_ngram_frac`   1 − distinct/total over word n-grams
    - `top_word_frac`    most frequent word's share of all words

    Shape: ALL three signals are pure array expressions — ONE narrow
    partition-local pass, zero shuffles, zero joins. The word mode is
    array_sort + a single aggregate() run-length scan (the longest run
    of equal words in the sorted array IS the top word's count), which
    is O(n log n) per doc — never quadratic, so a pathological
    10^6-word document costs one in-task sort, not a blown-up state.
    r2 shipped this as explode → two groupBys → join back, which
    re-ran the scan + tokenization per branch (2 scans, 3 exchanges at
    sf0.1) and shuffled every word of the corpus twice; this form
    plan-verifies to 1 scan / 0 exchanges (tests/test_plans.py)."""
    t = F.lower(F.trim(F.coalesce(F.col(text_col), F.lit(""))))
    lines = F.filter(F.split(t, r"\n"), lambda x: F.trim(x) != "")
    words = F.filter(F.split(t, r"\s+"), lambda x: x != "")
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(words) - (n - 1), F.lit(1))),
        lambda i: F.array_join(F.slice(words, i, n), " "),
    )

    def dup_frac(arr: Column) -> Column:
        # exact rational rounding: round(double, 6) is engine-ambiguous
        # at half boundaries (functions/exact.py)
        return F.when(
            F.size(arr) > 0,
            exact.round6_ratio(
                F.size(arr) - F.size(F.array_distinct(arr)), F.size(arr)
            ),
        ).otherwise(F.lit(None).cast("double"))

    # Longest run of equal words in the SORTED word array == the most
    # frequent word's count: one codegen'd scan, no explode/shuffle.
    def run1(acc: Column, x: Column) -> Column:
        return F.when(x == acc["prev"], acc["run"] + 1).otherwise(
            F.lit(1).cast("long")
        )

    top_count = F.aggregate(
        F.array_sort(words),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            run1(acc, x).alias("run"),
            F.greatest(acc["best"], run1(acc, x)).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    has_words = F.size(words) > 0
    return df.select(
        F.col(id_col),
        dup_frac(lines).alias("dup_line_frac"),
        # a doc with < n words has NO n-grams — null, not 0.0 (the
        # `greatest(..., 1)` in `grams` otherwise fabricates one gram
        # and a too-clean-looking 0.0 for empty/short docs, while
        # dup_line_frac correctly reads null for the same input)
        F.when(F.size(words) >= n, dup_frac(grams)).alias("dup_ngram_frac"),
        F.when(
            has_words,
            exact.round6_ratio(top_count, F.size(words)),
        ).alias("top_word_frac"),
        # null (not 0) for word-less docs — the left-join form's
        # no-matching-row semantics, kept for oracle parity
        F.when(has_words, F.size(words).cast("long")).alias("n_words"),
    )


def sql_repetition_stats(
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> str:
    t = f"lower(trim(coalesce({text_col}, '')))"
    lines = f"list_filter(string_split({t}, chr(10)), x -> trim(x) <> '')"
    words = f"list_filter(string_split_regex({t}, '\\s+'), x -> x <> '')"
    grams = (
        f"list_transform(range(1, greatest(len({words}) - {n - 1}, 1) + 1), "
        f"i -> array_to_string(list_slice({words}, i, i + {n - 1}), ' '))"
    )

    def dup(arr: str) -> str:
        return (
            f"CASE WHEN len({arr}) > 0 THEN "
            + exact.sql_round6_ratio(
                f"len({arr}) - len(list_distinct({arr}))", f"len({arr})"
            )
            + " END"
        )

    return f"""
    WITH narrow AS (
        SELECT {id_col}, {words} AS w,
               {dup(lines)} AS dup_line_frac,
               CASE WHEN len({words}) >= {n} THEN {dup(grams)} END
                   AS dup_ngram_frac
        FROM {table}
    ), cnt AS (
        SELECT {id_col}, word, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT {id_col}, unnest(w) AS word FROM narrow)
        GROUP BY {id_col}, word
    ), top AS (
        SELECT {id_col}, {exact.sql_round6_ratio("MAX(c)", "SUM(c)")}
                   AS top_word_frac,
               CAST(SUM(c) AS BIGINT) AS n_words
        FROM cnt GROUP BY {id_col}
    )
    SELECT n.{id_col}, n.dup_line_frac, n.dup_ngram_frac,
           t.top_word_frac, t.n_words
    FROM narrow n LEFT JOIN top t USING ({id_col})
    """


# ---------------------------------------------------------------------------
# PII-style redaction
# ---------------------------------------------------------------------------

# Shared Java-regex / RE2 subset: no lookaround, no backreferences.
RE_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
RE_IPV4 = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
RE_LONGNUM = r"\b[0-9][0-9 -]{6,}[0-9]\b"

_REDACTIONS = [
    ("email", RE_EMAIL, "<EMAIL>"),
    ("ip", RE_IPV4, "<IP>"),
    ("num", RE_LONGNUM, "<NUM>"),
]


def redact_text(text: Column) -> Column:
    """Text with emails / IPv4s / long number runs masked — the
    standard pre-training scrub. Chain of JVM regexp_replace (global),
    whole-stage codegen, no Python."""
    out = F.coalesce(text, F.lit(""))
    for _, pat, repl in _REDACTIONS:
        out = F.regexp_replace(out, pat, repl)
    return out


def pii_counts(text: Column) -> list[Column]:
    """One `n_<kind>` count column per redaction kind (pre-masking)."""
    t = F.coalesce(text, F.lit(""))
    return [
        F.size(F.regexp_extract_all(t, F.lit(pat), F.lit(0))).alias(f"n_{kind}")
        for kind, pat, _ in _REDACTIONS
    ]


def sql_redact_text(text_expr: str) -> str:
    out = f"coalesce({text_expr}, '')"
    for _, pat, repl in _REDACTIONS:
        out = f"regexp_replace({out}, '{pat}', '{repl}', 'g')"
    return out


def sql_pii_counts(text_expr: str) -> list[str]:
    t = f"coalesce({text_expr}, '')"
    return [
        f"CAST(len(regexp_extract_all({t}, '{pat}')) AS INT) AS n_{kind}"
        for kind, pat, _ in _REDACTIONS
    ]


# ---------------------------------------------------------------------------
# normalization + normalized exact dedup
# ---------------------------------------------------------------------------


def normalize_text(text: Column) -> Column:
    """Canonical text for normalization-insensitive exact dedup (the
    CCNet/Gopher-style pre-pass: lowercase, punctuation → space,
    whitespace collapsed, trimmed). Pure JVM regexp chain — runs in the
    scan projection. ASCII-scoped on purpose: the sandbox locale makes
    non-ASCII case folding engine-dependent; a production build widens
    the class with a documented ICU policy."""
    t = F.lower(F.coalesce(text, F.lit("")))
    t = F.regexp_replace(t, r"[^a-z0-9\s]", " ")
    t = F.regexp_replace(t, r"\s+", " ")
    return F.trim(t)


def sql_normalize_text(text_expr: str) -> str:
    t = f"lower(coalesce({text_expr}, ''))"
    t = f"regexp_replace({t}, '[^a-z0-9\\s]', ' ', 'g')"
    t = f"regexp_replace({t}, '\\s+', ' ', 'g')"
    return f"trim({t})"


def norm_dedup_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Duplicate groups under normalized-exact equality: md5 of the
    normalized text → (norm_hash, n_docs, canonical_id=min id), groups
    with ≥ 2 members. Catches the case/punctuation/spacing near-copies
    that byte-exact dedup (operators/dedup.py::exact_dedup) misses and
    MinHash wastes banding on. One shuffle on the hash; same scale
    shape as exact dedup."""
    return (
        df.select(
            F.col(id_col),
            F.md5(normalize_text(F.col(text_col))).alias("norm_hash"),
        )
        .groupBy("norm_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("canonical_id"),
        )
        .where(F.col("n_docs") >= 2)
    )


def sql_norm_dedup_groups(
    table: str, id_col: str = "doc_id", text_expr: str = "text"
) -> str:
    return f"""
    SELECT md5({sql_normalize_text(text_expr)}) AS norm_hash,
        CAST(COUNT(*) AS BIGINT) AS n_docs,
        MIN({id_col}) AS canonical_id
    FROM {table}
    GROUP BY 1
    HAVING COUNT(*) >= 2
    """


# ---------------------------------------------------------------------------
# token-budget shard packing
# ---------------------------------------------------------------------------


def pack_shards(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
    budget: int = 2048,
    n_buckets: int = 16,
) -> DataFrame:
    """Assign each document to a training shard: each (`group_col`,
    bucket) cell packs its docs (ordered by id) greedily at a running
    whitespace-token budget — shard_idx = floor(cumsum-before /
    budget), shard_id = source/bucket/idx. Deterministic, reproducible
    across partitionings.

    Scale: a window partitioned by `group_col` ALONE serializes a
    dominant stratum — a corpus that is 80% one source funnels 80% of
    the data through one cumsum task. So each stratum is pre-split into
    `n_buckets` deterministic sub-buckets (id mod n_buckets — the id is
    the sort key anyway; for non-numeric ids substitute any portable
    hash) and the window partitions by (source, bucket): parallelism is
    n_sources × n_buckets regardless of stratum skew, never a global
    ORDER BY. Cost: up to n_buckets partially-filled trailing shards
    per source instead of one — noise at 100 TB, and mixture weights
    are unaffected (weights are set per source, and every bucket is an
    unbiased 1/n_buckets sample of its stratum)."""
    from pyspark.sql import Window

    toks = F.size(
        F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+")
    ).cast("long")
    bucket = F.pmod(F.col(id_col), F.lit(n_buckets)).cast("int")
    w = (
        Window.partitionBy(group_col, "bucket")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    idx = F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / F.lit(budget))
    return (
        df.select(
            F.col(id_col),
            F.col(group_col),
            toks.alias("n_tokens"),
            bucket.alias("bucket"),
        )
        .select(
            id_col,
            group_col,
            "n_tokens",
            "bucket",
            idx.alias("shard_idx"),
            F.concat_ws("/", F.col(group_col), F.col("bucket"), idx).alias(
                "shard_id"
            ),
        )
    )


def sql_pack_shards(
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
    budget: int = 2048,
    n_buckets: int = 16,
) -> str:
    toks = (
        f"CAST(len(string_split_regex(trim(coalesce({text_col}, '')),"
        f" '\\s+')) AS BIGINT)"
    )
    idx = (
        f"CAST(floor((SUM(n_tokens) OVER (PARTITION BY {group_col}, bucket"
        f" ORDER BY {id_col} ROWS UNBOUNDED PRECEDING) - n_tokens)"
        f" / {budget}) AS BIGINT)"
    )
    return f"""
    WITH t AS (
        SELECT {id_col}, {group_col}, {toks} AS n_tokens,
               CAST({id_col} % {n_buckets} AS INTEGER) AS bucket
        FROM {table}
    )
    SELECT {id_col}, {group_col}, n_tokens, bucket,
        {idx} AS shard_idx,
        {group_col} || '/' || CAST(bucket AS VARCHAR) || '/'
            || CAST({idx} AS VARCHAR) AS shard_id
    FROM t
    """


# ---------------------------------------------------------------------------
# benchmark decontamination
# ---------------------------------------------------------------------------


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "bench_id",
    n: int = 5,
) -> DataFrame:
    """Training docs sharing ≥1 word n-gram with any benchmark doc —
    the pre-training eval-leakage filter. Returns (doc_id, bench_id,
    n_shared) per contaminated pair.

    Shape: benchmark shingles are the SMALL side → broadcast hash join
    against the exploded corpus shingles; the corpus never self-joins
    and never shuffles on anything longer than the shingle string."""
    from .dedup import word_shingles

    c = corpus.select(
        F.col(id_col), F.explode(word_shingles(F.col(text_col), n)).alias("shingle")
    )
    b = benchmark.select(
        F.col(bench_id_col),
        F.explode(word_shingles(F.col(text_col), n)).alias("shingle"),
    ).distinct()
    return (
        c.join(F.broadcast(b), on="shingle")
        .groupBy(id_col, bench_id_col)
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def sql_decontaminate(
    corpus_sql: str,
    benchmark_sql: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "bench_id",
    n: int = 5,
) -> str:
    from .dedup import sql_word_shingles

    sh = sql_word_shingles(text_col, n)
    return f"""
    WITH c AS (
        SELECT {id_col}, unnest({sh}) AS shingle FROM ({corpus_sql})
    ), b AS (
        SELECT DISTINCT {bench_id_col}, unnest({sh}) AS shingle
        FROM ({benchmark_sql})
    )
    SELECT c.{id_col}, b.{bench_id_col}, CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM c JOIN b USING (shingle)
    GROUP BY c.{id_col}, b.{bench_id_col}
    """


def containment_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "bench_id",
    n: int = 5,
    threshold: float = 0.8,
) -> DataFrame:
    """N-gram CONTAINMENT decontamination — the asymmetric upgrade of
    `decontaminate`: a benchmark item counts as leaked when the
    FRACTION of its distinct n-grams found in a training doc is >=
    threshold, even though the training doc is far larger (Jaccard
    would dilute toward 0 as the train doc grows — containment
    |A∩B| / |B| is the right statistic when B is a short eval item
    embedded in a long crawled page; the near-dup-overlap rule of the
    GPT-3/Pile decontamination appendix, Brown et al. 2020 §C).

    Returns (doc_id, bench_id, n_shared, n_bench, containment) for
    pairs at or above threshold. containment is an exact ratio of two
    BIGINTs — one IEEE division, bit-identical across engines.

    Shape (100 TB): benchmark n-gram sets are the SMALL side (eval
    suites are KBs) → DISTINCT once, broadcast; the corpus explodes its
    distinct shingles partition-locally and the broadcast join filters
    to matches map-side, so nothing wide ever shuffles; the pair
    aggregate is bounded by |matching pairs|, not corpus size."""
    from .dedup import word_shingles

    c = corpus.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(word_shingles(F.col(text_col), n))
        ).alias("shingle"),
    )
    b = benchmark.select(
        F.col(bench_id_col),
        F.explode(
            F.array_distinct(word_shingles(F.col(text_col), n))
        ).alias("shingle"),
    )
    bsize = b.groupBy(bench_id_col).agg(F.count(F.lit(1)).alias("n_bench"))
    shared = (
        c.join(F.broadcast(b), on="shingle")
        .groupBy(id_col, bench_id_col)
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        shared.join(F.broadcast(bsize), bench_id_col)
        .withColumn(
            "containment", F.col("n_shared") / F.col("n_bench").cast("double")
        )
        .where(F.col("containment") >= threshold)
        .select(id_col, bench_id_col, "n_shared", "n_bench", "containment")
    )


def sql_containment_decontaminate(
    corpus_sql: str,
    benchmark_sql: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "bench_id",
    n: int = 5,
    threshold: float = 0.8,
) -> str:
    from .dedup import sql_word_shingles

    sh = sql_word_shingles(text_col, n)
    return f"""
    WITH c AS (
        SELECT {id_col}, unnest(list_distinct({sh})) AS shingle
        FROM ({corpus_sql})
    ), b AS (
        SELECT {bench_id_col}, unnest(list_distinct({sh})) AS shingle
        FROM ({benchmark_sql})
    ), bsize AS (
        SELECT {bench_id_col}, CAST(COUNT(*) AS BIGINT) AS n_bench
        FROM b GROUP BY {bench_id_col}
    ), shared AS (
        SELECT c.{id_col}, b.{bench_id_col},
               CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM c JOIN b USING (shingle)
        GROUP BY c.{id_col}, b.{bench_id_col}
    )
    SELECT s.{id_col}, s.{bench_id_col}, s.n_shared, z.n_bench,
           s.n_shared / CAST(z.n_bench AS DOUBLE) AS containment
    FROM shared s JOIN bsize z USING ({bench_id_col})
    WHERE s.n_shared / CAST(z.n_bench AS DOUBLE) >= {threshold}
    """


def pmi_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_vocab: int = 200,
    min_pair_docs: int = 5,
    k: int = 50,
) -> DataFrame:
    """Top-k word associations by pointwise mutual information over
    document-level co-occurrence — the collocation-mining staple
    (Church & Hanks 1990): PMI(a,b) = ln(n_ab * N / (n_a * n_b)) with
    document frequencies, restricted to the top-`top_vocab` vocabulary.

    Shape (100 TB): the naive form explodes O(doc_len^2) pairs per doc
    — fatal. Bounded here by (1) DISTINCT tokens per doc, (2) a
    broadcast top-V vocabulary filter applied BEFORE the pair join
    (per-doc pair fanout is then <= C(V,2) and in practice tiny), and
    (3) a min-support filter on the pair counts. The pair generation
    is one equi-self-join on the doc id over the vocab-filtered token
    table; N travels as a broadcast 1-row aggregate. Both the vocab
    cut and the final ranking are orderBy().limit() —
    TakeOrderedAndProject, a per-partition top-V + driver merge of V
    rows, never a single-partition global window (row_number over an
    unpartitioned Window would force the full distinct-token table
    through ONE task at 100 TB). Determinism: all counts are exact
    integers; the ranking key is the raw likelihood ratio
    n_ab*N/(n_a*n_b) — an IEEE expression over exact integers, bit-
    identical on both engines — and the emitted score is micro-unit
    BIGINT floor(ln(ratio)*1e6) per the functions/exact.py doctrine
    (never round(double, n), which is engine-ambiguous at half
    boundaries); tie-break is (pair) lexicographic."""
    toks = F.filter(
        F.split(F.trim(F.lower(F.coalesce(F.col(text_col), F.lit("")))), r"\s+"),
        lambda x: x != "",
    )
    dt = df.select(
        F.col(id_col).alias("doc"),
        F.explode(F.array_distinct(toks)).alias("tok"),
    )
    dfreq = dt.groupBy("tok").agg(F.count(F.lit(1)).alias("n_tok"))
    # top-V vocabulary via TakeOrderedAndProject, NOT row_number over an
    # unpartitioned Window (same rows, same (n_tok desc, tok) tie-break;
    # the window form is a single-partition sort of every distinct token)
    vocab = dfreq.orderBy(F.col("n_tok").desc(), F.col("tok").asc()).limit(
        top_vocab
    )
    n_docs = F.broadcast(df.agg(F.count(F.lit(1)).alias("n_docs")))
    dv = dt.join(F.broadcast(vocab.select("tok")), "tok")
    a = dv.select("doc", F.col("tok").alias("tok_a"))
    b = dv.select("doc", F.col("tok").alias("tok_b"))
    pairs = (
        a.join(b, "doc")
        .where(F.col("tok_a") < F.col("tok_b"))
        .groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= min_pair_docs)
    )
    na = vocab.select(F.col("tok").alias("tok_a"), F.col("n_tok").alias("n_a"))
    nb = vocab.select(F.col("tok").alias("tok_b"), F.col("n_tok").alias("n_b"))
    # ranking key: the raw likelihood ratio (exact-integer IEEE expr,
    # bit-identical cross-engine; ln is monotone so the order equals
    # PMI order). The emitted score is micro-unit BIGINT — ln() is the
    # only transcendental and floor(x*1e6) has no half-boundary class.
    ratio = (
        F.col("n_ab").cast("double")
        * F.col("n_docs")
        / (F.col("n_a").cast("double") * F.col("n_b"))
    )
    scored = (
        pairs.join(F.broadcast(na), "tok_a")
        .join(F.broadcast(nb), "tok_b")
        .crossJoin(n_docs)
    )
    return (
        scored.orderBy(
            ratio.desc(), F.col("tok_a").asc(), F.col("tok_b").asc()
        )
        .limit(k)
        .select(
            "tok_a",
            "tok_b",
            "n_ab",
            F.floor(F.log(ratio) * F.lit(1e6)).cast("bigint").alias("pmi_e6"),
        )
    )


def sql_pmi_pairs(
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_vocab: int = 200,
    min_pair_docs: int = 5,
    k: int = 50,
) -> str:
    toks = (
        f"list_distinct(list_filter(string_split_regex(trim(lower("
        f"coalesce({text_col}, ''))), '\\s+'), x -> x <> ''))"
    )
    return f"""
    WITH dt AS (
        SELECT {id_col} AS doc, unnest({toks}) AS tok FROM {table}
    ), dfreq AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS n_tok FROM dt GROUP BY tok
    ), vocab AS (
        SELECT tok, n_tok FROM dfreq
        ORDER BY n_tok DESC, tok ASC LIMIT {top_vocab}
    ), nd AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM {table}
    ), dv AS (
        SELECT doc, tok FROM dt WHERE tok IN (SELECT tok FROM vocab)
    ), pairs AS (
        SELECT a.tok AS tok_a, b.tok AS tok_b, CAST(COUNT(*) AS BIGINT) AS n_ab
        FROM dv a JOIN dv b ON a.doc = b.doc AND a.tok < b.tok
        GROUP BY 1, 2
        HAVING COUNT(*) >= {min_pair_docs}
    )
    SELECT tok_a, tok_b, n_ab,
        CAST(floor(ln(CAST(n_ab AS DOUBLE) * nd.n_docs
                      / (CAST(va.n_tok AS DOUBLE) * vb.n_tok)) * 1000000)
             AS BIGINT) AS pmi_e6
    FROM pairs
    JOIN vocab va ON va.tok = pairs.tok_a
    JOIN vocab vb ON vb.tok = pairs.tok_b
    CROSS JOIN nd
    ORDER BY CAST(n_ab AS DOUBLE) * nd.n_docs
             / (CAST(va.n_tok AS DOUBLE) * vb.n_tok) DESC,
             tok_a ASC, tok_b ASC
    LIMIT {k}
    """


def _bloom_pos(shingle, i: int, m_bits: int):
    """Bit position i for a shingle: md5('<i>:'+shingle)[0:12] % m —
    12 hex chars (48 bits) so the modulo is unbiased for any practical
    m. Identical derivation in the SQL twin below."""
    return F.pmod(
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{i}:"), shingle)), 1, 12), 16, 10
        ).cast("long"),
        F.lit(m_bits),
    )


def bloom_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    m_bits: int = 1 << 18,
    k: int = 3,
) -> DataFrame:
    """Benchmark decontamination against a BLOOM FILTER of the eval
    set's shingles instead of the raw shingle strings — the 100 TB
    shape when the eval suite itself is large: decontaminate() ships
    every distinct benchmark shingle string to every executor, which
    stops fitting once the suite reaches millions of documents; the
    Bloom bitset is a fixed m_bits regardless of suite size (2^18 bits
    = 32 KiB; production sizes m for the target FPR ≈ (1-e^(-kn/m))^k).

    Returns (doc_id, n_hit_shingles, might_contaminated) for flagged
    docs only — a conservative SUPERSET of the exact operator's doc set
    (no false negatives by construction; false positives at the Bloom
    FPR). The standard pipeline drops flagged docs outright or routes
    them to the exact recheck.

    Shape: benchmark → distinct shingles → k positions each → distinct
    position rows (≤ m_bits, the filter's set bits) broadcast to the
    corpus side; corpus shingles explode to k (shingle, i, pos) probes,
    a broadcast equi-join marks set bits, and a shingle hits iff all k
    probes match. No corpus-side shuffle except the final per-doc
    groupBy on the id. Represented as a position TABLE rather than a
    packed bitmap so the whole plan stays in pure column exprs (the
    packed-bitmap variant is a driver-built BloomFilter broadcast —
    same semantics, opaque to the oracle)."""
    from .dedup import word_shingles

    bpos = (
        benchmark.select(F.explode(word_shingles(F.col(text_col), n)).alias("sh"))
        .distinct()
        .select(
            F.explode(
                F.array(*[_bloom_pos(F.col("sh"), i, m_bits) for i in range(k)])
            ).alias("pos")
        )
        .distinct()
    )
    probes = (
        corpus.select(
            F.col(id_col),
            F.explode(word_shingles(F.col(text_col), n)).alias("sh"),
        )
        .distinct()
        .select(
            id_col,
            "sh",
            F.explode(
                F.array(*[_bloom_pos(F.col("sh"), i, m_bits) for i in range(k)])
            ).alias("pos"),
        )
    )
    hits = (
        probes.join(F.broadcast(bpos), on="pos")
        .groupBy(id_col, "sh")
        .agg(F.count(F.lit(1)).alias("n_set"))
        .where(F.col("n_set") == k)
    )
    return hits.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_hit_shingles"),
        F.lit(True).alias("might_contaminated"),
    )


def sql_bloom_decontaminate(
    corpus_sql: str,
    benchmark_sql: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    m_bits: int = 1 << 18,
    k: int = 3,
) -> str:
    """DuckDB twin — identical position derivation and all-k test."""
    from .dedup import sql_word_shingles

    sh = sql_word_shingles(text_col, n)
    pos = (
        f"CAST('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || sh), 1, 12)"
        f" AS BIGINT) % {m_bits}"
    )
    return f"""
    WITH ks AS (SELECT range AS i FROM range({k})),
    bsh AS (
        SELECT DISTINCT unnest({sh}) AS sh FROM ({benchmark_sql})
    ), bpos AS (
        SELECT DISTINCT {pos} AS pos FROM bsh, ks
    ), csh AS (
        SELECT DISTINCT {id_col}, unnest({sh}) AS sh FROM ({corpus_sql})
    ), probes AS (
        SELECT {id_col}, sh, {pos} AS pos FROM csh, ks
    ), hits AS (
        SELECT {id_col}, sh FROM probes JOIN bpos USING (pos)
        GROUP BY {id_col}, sh HAVING COUNT(*) = {k}
    )
    SELECT {id_col}, CAST(COUNT(*) AS BIGINT) AS n_hit_shingles,
           TRUE AS might_contaminated
    FROM hits GROUP BY {id_col}
    """


# ---------------------------------------------------------------------------
# token-window document chunking
# ---------------------------------------------------------------------------


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    size: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Split each document into overlapping word-window chunks — the
    context-length packing step before tokenization in a training
    pipeline. Chunk i covers words [i*stride, i*stride + size) with
    stride = size - overlap; a doc with <= size words is one chunk;
    empty docs yield no chunks.

    Shape: one pass, no shuffle — split/sequence/explode are all
    partition-local (the explode multiplies rows ~n_words/stride, the
    same growth the downstream tokenizer pays anyway). Chunk indices
    come from `F.sequence`, text from `F.slice` — pure JVM, no Python.
    """
    if overlap >= size:
        raise ValueError("overlap must be < size")
    stride = size - overlap
    words = F.filter(
        F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+"),
        lambda x: x != "",
    )
    d = df.select(F.col(id_col), words.alias("_w")).where(F.size("_w") > 0)
    nw = F.size("_w")
    n_chunks = F.when(nw <= size, F.lit(1)).otherwise(
        F.ceil((nw - size) / F.lit(float(stride))).cast("long") + 1
    )
    return (
        d.select(
            F.col(id_col),
            F.col("_w"),
            F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias(
                "chunk_idx"
            ),
        )
        .select(
            F.col(id_col),
            F.col("chunk_idx"),
            F.array_join(
                F.slice(
                    F.col("_w"),
                    (F.col("chunk_idx") * stride + 1).cast("int"),
                    size,
                ),
                " ",
            ).alias("chunk_text"),
            F.least(
                F.lit(size).cast("long"),
                F.size("_w") - F.col("chunk_idx") * stride,
            ).alias("chunk_tokens"),
        )
    )


def sql_chunk_documents(
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    size: int = 64,
    overlap: int = 16,
) -> str:
    stride = size - overlap
    return f"""
    WITH w AS (
        SELECT {id_col},
            list_filter(string_split_regex(trim(coalesce({text_col}, '')),
                        '\\s+'), x -> x <> '') AS words
        FROM {table}
    ), n AS (
        SELECT {id_col}, words, len(words) AS nw FROM w WHERE len(words) > 0
    ), c AS (
        SELECT {id_col}, words, nw,
            unnest(range(CASE WHEN nw <= {size} THEN 1
                ELSE CAST(ceil((nw - {size}) / CAST({stride} AS DOUBLE))
                     AS BIGINT) + 1 END)) AS chunk_idx
        FROM n
    )
    SELECT {id_col}, chunk_idx,
        array_to_string(list_slice(words, chunk_idx * {stride} + 1,
                                   chunk_idx * {stride} + {size}), ' ')
            AS chunk_text,
        least(CAST({size} AS BIGINT), nw - chunk_idx * {stride})
            AS chunk_tokens
    FROM c
    """


# ---------------------------------------------------------------------------
# TF-IDF top terms per document
# ---------------------------------------------------------------------------


def tfidf_topk(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """Top-k terms per document by tf-idf (tf * ln(N/df)) — the classic
    document-keyword surface a corpus-analysis pass produces. Returns
    (doc_id, word, tf, df_docs, tfidf_e4 half-up 1e-4-unit BIGINT, rank).

    Shape: explode → two partial-aggregated groupBys (term freq per doc,
    doc freq per word) → one equi-join on the word key → per-doc window
    top-k. N (corpus size) joins in as a broadcast 1-row aggregate, not
    a driver-side action. No global sort: the rank window partitions by
    doc."""
    from pyspark.sql import Window

    words = F.filter(
        F.split(F.lower(F.trim(F.coalesce(F.col(text_col), F.lit("")))), r"\s+"),
        lambda x: x != "",
    )
    toks = df.select(F.col(id_col), F.explode(words).alias("word"))
    tf = toks.groupBy(id_col, "word").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = (
        toks.groupBy("word")
        .agg(F.count_distinct(F.col(id_col)).alias("df_docs"))
    )
    n_docs = df.select(
        F.count_distinct(F.col(id_col)).alias("n_docs")
    )
    scored = (
        tf.join(dfreq, on="word")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            # half-up 1e-4-unit BIGINT (functions/exact.py): tf*ln()
            # is a per-row expression mirrored op-for-op, but ln is
            # libm-vs-JVM; ranking on the quantized integer keeps the
            # top-k cut deterministic cross-engine
            "tfidf_e4",
            exact.half_up_units(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df_docs")), 4
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf_e4").desc(), F.col("word").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(id_col, "word", "tf", "df_docs", "tfidf_e4", "rank")
    )


def sql_tfidf_topk(
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> str:
    return f"""
    WITH toks AS (
        SELECT {id_col}, unnest(list_filter(string_split_regex(
            lower(trim(coalesce({text_col}, ''))), '\\s+'), x -> x <> ''))
            AS word
        FROM {table}
    ), tf AS (
        SELECT {id_col}, word, CAST(COUNT(*) AS BIGINT) AS tf
        FROM toks GROUP BY {id_col}, word
    ), dfreq AS (
        SELECT word, CAST(COUNT(DISTINCT {id_col}) AS BIGINT) AS df_docs
        FROM toks GROUP BY word
    ), n AS (
        SELECT CAST(COUNT(DISTINCT {id_col}) AS BIGINT) AS n_docs
        FROM {table}
    ), scored AS (
        SELECT tf.{id_col}, tf.word, tf.tf, dfreq.df_docs, n.n_docs,
            {exact.sql_half_up_units(
                "tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df_docs)", 4)}
                AS tfidf_e4
        FROM tf JOIN dfreq USING (word) CROSS JOIN n
    )
    SELECT {id_col}, word, tf, df_docs, tfidf_e4, rank FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY {id_col}
            ORDER BY tfidf_e4 DESC, word ASC) AS INT) AS rank
        FROM scored
    ) WHERE rank <= {k}
    """


# ---------------------------------------------------------------------------
# per-stratum deterministic sampling
# ---------------------------------------------------------------------------


def _hex_threshold(rate: float) -> str:
    """8-hex-digit threshold: an md5 prefix is uniform on [0, 2^32), and
    lowercase-hex lexicographic order == numeric order, so
    `md5_prefix < format(rate * 2^32, '08x')` keeps ~rate of rows —
    portable to any engine with md5 + string compare, no hex→int cast.
    rate >= 1.0 uses 'g' (sorts above every hex digit → keep all)."""
    v = int(round(max(0.0, rate) * (1 << 32)))
    return "g" if v >= (1 << 32) else format(v, "08x")


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    id_col: str = "doc_id",
    stratum_col: str = "lang",
    default_rate: float = 0.0,
) -> DataFrame:
    """Keep each row with its stratum's rate, decided by a deterministic
    hash of the id (md5 8-hex-digit prefix vs a per-stratum threshold)
    — the mixture-weighting downsample of a training pipeline.
    Reproducible across engines, partitionings, and reruns (unlike
    rand()); strata not in `rates` fall back to default_rate. Pure
    column expression (whole-stage codegen)."""
    h = F.substring(F.md5(F.col(id_col).cast("string")), 1, 8)
    thr = F.lit(_hex_threshold(default_rate))
    for k in sorted(rates):
        thr = F.when(
            F.col(stratum_col) == k, F.lit(_hex_threshold(rates[k]))
        ).otherwise(thr)
    return df.where(h < thr)


def sql_stratified_sample_pred(
    rates: dict[str, float],
    id_col: str = "doc_id",
    stratum_col: str = "lang",
    default_rate: float = 0.0,
) -> str:
    h = f"substr(md5(CAST({id_col} AS VARCHAR)), 1, 8)"
    thr = f"'{_hex_threshold(default_rate)}'"
    for k in sorted(rates):
        thr = (
            f"(CASE WHEN {stratum_col} = '{k}' THEN '{_hex_threshold(rates[k])}'"
            f" ELSE {thr} END)"
        )
    return f"{h} < {thr}"


def dataset_split(
    df: DataFrame,
    id_col: str = "doc_id",
    salt: str = "split:v1",
    train_pct: int = 90,
    val_pct: int = 5,
) -> DataFrame:
    """Deterministic train/val/test assignment — the split every
    training pipeline needs to be REPRODUCIBLE and LEAK-FREE: the
    split is a pure function of (salt, id), so it is stable across
    engines, partitionings, reruns, and incremental corpus growth
    (a doc added tomorrow cannot move today's docs between splits,
    which rand()-based splits violate). Salting the hash decouples the
    split from every other md5-of-id decision in the pipeline
    (sampling thresholds, shard assignment) — unsalted reuse would
    correlate "sampled" with "train". Pure column expression.

    Returns df + (split_bucket INT in [0,100), split STRING)."""
    bucket = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))),
                1,
                4,
            ),
            16,
            10,
        ).cast("int"),
        F.lit(100),
    )
    split = (
        F.when(bucket < train_pct, F.lit("train"))
        .when(bucket < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return df.withColumn("split_bucket", bucket).withColumn("split", split)


def split_audit(
    df: DataFrame,
    id_col: str = "doc_id",
    stratum_col: str = "lang",
    salt: str = "split:v1",
    train_pct: int = 90,
    val_pct: int = 5,
) -> DataFrame:
    """Per-stratum split audit: counts per (stratum, split) pivoted to
    one row per stratum, plus the disjoint-and-exhaustive check
    (n_train + n_val + n_test == n_total — the property that catches a
    bucket-boundary bug or a NULL-id leak). One groupBy over the
    corpus; output is |strata| rows."""
    d = dataset_split(df, id_col, salt, train_pct, val_pct)
    return (
        d.groupBy(stratum_col)
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.count(F.when(F.col("split") == "train", 1)).alias("n_train"),
            F.count(F.when(F.col("split") == "val", 1)).alias("n_val"),
            F.count(F.when(F.col("split") == "test", 1)).alias("n_test"),
        )
        .select(
            stratum_col,
            "n_total",
            "n_train",
            "n_val",
            "n_test",
            (
                F.col("n_train") + F.col("n_val") + F.col("n_test")
                == F.col("n_total")
            ).alias("all_assigned"),
            # exact ratio of two BIGINTs — one IEEE division,
            # bit-identical across engines
            (F.col("n_train") / F.col("n_total").cast("double")).alias(
                "train_frac"
            ),
        )
    )


def sql_split_audit(
    table: str,
    id_col: str = "doc_id",
    stratum_col: str = "lang",
    salt: str = "split:v1",
    train_pct: int = 90,
    val_pct: int = 5,
) -> str:
    bucket = (
        f"CAST('0x' || substr(md5('{salt}:' || CAST({id_col} AS VARCHAR)),"
        f" 1, 4) AS INTEGER) % 100"
    )
    return f"""
    WITH d AS (
        SELECT {stratum_col},
            CASE WHEN {bucket} < {train_pct} THEN 'train'
                 WHEN {bucket} < {train_pct + val_pct} THEN 'val'
                 ELSE 'test' END AS split
        FROM {table}
    ), g AS (
        SELECT {stratum_col},
            CAST(COUNT(*) AS BIGINT) AS n_total,
            CAST(COUNT(*) FILTER (WHERE split = 'train') AS BIGINT) AS n_train,
            CAST(COUNT(*) FILTER (WHERE split = 'val') AS BIGINT) AS n_val,
            CAST(COUNT(*) FILTER (WHERE split = 'test') AS BIGINT) AS n_test
        FROM d GROUP BY {stratum_col}
    )
    SELECT {stratum_col}, n_total, n_train, n_val, n_test,
        (n_train + n_val + n_test = n_total) AS all_assigned,
        n_train / CAST(n_total AS DOUBLE) AS train_frac
    FROM g
    """


# ---------------------------------------------------------------------------
# paragraph-level (intra-document span) dedup — boilerplate detection
# ---------------------------------------------------------------------------


def paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_words: int = 12,
    min_df: int = 2,
) -> DataFrame:
    """Per-document boilerplate fraction from paragraph-level duplicate
    detection — the span-granular dedup step of C4/RefinedWeb-style
    pipelines (whole-doc dedup misses the nav bar / cookie banner /
    license footer repeated across millions of otherwise-unique pages).

    Documents are segmented into fixed `chunk_words`-word spans (the
    segmentation for unstructured text with no paragraph markers; with
    real newline paragraphs, swap the splitter). A span is boilerplate
    when its document frequency across the corpus reaches `min_df`
    distinct documents. Output per doc: `n_paras`, `n_dup_paras`,
    `dup_para_frac`. Docs with no words yield no row (consistent with
    `bigram_logprob`).

    Shape (100 TB): segmentation is partition-local (split/sequence/
    slice — no shuffle, no Python); document frequency is ONE groupBy on
    the span md5 (count-distinct over (hash, doc) pre-deduped map-side);
    the flag join is a shuffle equi-join on the same short hash key both
    sides. No all-pairs anything; a span shared by 10^6 docs costs one
    counter, not 10^12 candidates."""
    words = F.filter(
        F.split(F.lower(F.trim(F.coalesce(F.col(text_col), F.lit("")))), r"\s+"),
        lambda x: x != "",
    )
    d = df.select(F.col(id_col), words.alias("_w")).where(F.size("_w") > 0)
    n_paras = F.ceil(F.size("_w") / F.lit(float(chunk_words))).cast("long")
    paras = d.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), n_paras - 1),
                lambda i: F.md5(
                    F.array_join(
                        F.slice(F.col("_w"), i * chunk_words + 1, chunk_words), " "
                    )
                ),
            )
        ).alias("para_h"),
    )
    doc_freq = (
        paras.select("para_h", F.col(id_col)).distinct()
        .groupBy("para_h")
        .agg(F.count(F.lit(1)).alias("para_df"))
    )
    return (
        paras.join(doc_freq, on="para_h")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_paras"),
            F.sum((F.col("para_df") >= min_df).cast("long")).alias("n_dup_paras"),
            exact.round6_ratio(
                F.sum((F.col("para_df") >= min_df).cast("long")),
                F.count(F.lit(1)),
            ).alias("dup_para_frac"),
        )
    )


def sql_paragraph_dedup(
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_words: int = 12,
    min_df: int = 2,
) -> str:
    return f"""
    WITH w AS (
        SELECT {id_col},
               list_filter(string_split_regex(lower(trim(coalesce({text_col}, ''))), '\\s+'),
                           x -> x <> '') AS wl
        FROM {table}
    ), paras AS (
        SELECT {id_col},
               md5(array_to_string(wl[(i * {chunk_words} + 1):((i + 1) * {chunk_words})], ' ')) AS para_h
        FROM w, UNNEST(generate_series(0,
                 CAST(ceil(len(wl) / {chunk_words}.0) AS BIGINT) - 1)) AS t(i)
        WHERE len(wl) > 0
    ), doc_freq AS (
        SELECT para_h, CAST(COUNT(DISTINCT {id_col}) AS BIGINT) AS para_df
        FROM paras GROUP BY para_h
    )
    SELECT p.{id_col},
           CAST(COUNT(*) AS BIGINT) AS n_paras,
           CAST(SUM(CASE WHEN d.para_df >= {min_df} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_paras,
           {exact.sql_round6_ratio(
               f"SUM(CASE WHEN d.para_df >= {min_df} THEN 1 ELSE 0 END)",
               "COUNT(*)")} AS dup_para_frac
    FROM paras p JOIN doc_freq d USING (para_h)
    GROUP BY p.{id_col}
    """


# ---------------------------------------------------------------------------
# heavy hitters: exact frequent tokens via local candidates + recount
# ---------------------------------------------------------------------------


def _tokens(text_col: Column) -> Column:
    """Whitespace tokens, empties dropped — byte-identical to the
    _SQL_TOKS tokenization the token-count queries use."""
    return F.filter(
        F.split(F.trim(F.coalesce(text_col, F.lit(""))), r"\s+"),
        lambda x: x != "",
    )


def heavy_hitters(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    k_inv: int = 50,
) -> DataFrame:
    """EXACT tokens whose global frequency is >= 1/k_inv of all tokens
    (vocabulary profiling / stopword discovery over a corpus), without
    ever shuffling the token long tail.

    The scale problem: a naive `explode -> groupBy(token)` shuffles one
    row per DISTINCT (partition, token) — at 100 TB the near-unique
    tail IS the data. Instead:

    1. candidate generation, partition-local (mapInPandas): count
       tokens per partition, emit only tokens with local_cnt * k_inv >=
       local_total. Pigeonhole guarantees a SUPERSET of the true
       hitters (if a token is below 1/k_inv in every partition, the sum
       is below 1/k_inv globally), and at most k_inv candidates leave
       each partition — a few KB per task regardless of data size.
    2. exact recount of candidates only: semi-join the exploded tokens
       against the broadcast candidate set, then groupBy — the shuffle
       now carries <= |partitions| * k_inv distinct tokens.
    3. integer cross-multiplied threshold (cnt * k_inv >= total_tokens)
       — no float threshold, so the DuckDB twin compares identically.

    Output: (token, cnt, share) for the true hitters only — step 1's
    false positives are filtered by the exact recount, so the result is
    exact, not approximate.
    """
    import pandas as pd  # noqa: F401  (mapInPandas ships pandas rows)

    def local_candidates(pdfs):
        from collections import Counter

        counts: Counter = Counter()
        total = 0
        for pdf in pdfs:
            # split on the JAVA \s class (not Python's unicode-wide
            # one) and drop empties — candidate tokens must equal the
            # JVM recount's tokens or the superset guarantee breaks
            toks = pdf[text_col].fillna("").str.split(r"[ \t\n\x0B\f\r]+")
            for row in toks:
                for t in row:
                    if t:
                        counts[t] += 1
                        total += 1
        cands = [t for t, c in counts.items() if c * k_inv >= total]
        yield pd.DataFrame({"token": cands})

    cands = (
        df.select(text_col)
        .mapInPandas(local_candidates, "token string")
        .distinct()
    )
    toks = df.select(
        F.explode(_tokens(F.col(text_col))).alias("token")
    )
    # total token count straight off the documents (no explode pass)
    total = df.select(
        F.sum(F.size(_tokens(F.col(text_col)))).cast("long").alias("_total")
    )
    counted = (
        toks.join(F.broadcast(cands), "token", "semi")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        counted.crossJoin(F.broadcast(total))
        .where(F.col("cnt") * k_inv >= F.col("_total"))
        .select(
            "token",
            "cnt",
            exact.round6_ratio(F.col("cnt"), F.col("_total")).alias("share"),
        )
    )


def sql_heavy_hitters(k_inv: int = 50) -> str:
    """DuckDB twin: exact frequent tokens by direct global count."""
    toks = (
        "SELECT unnest(list_filter(string_split_regex(trim(coalesce("
        "text, '')), '\\s+'), x -> x <> '')) AS token FROM documents"
    )
    return f"""
    WITH toks AS ({toks}),
    tot AS (SELECT COUNT(*) AS n FROM toks)
    SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt,
           {exact.sql_round6_ratio("COUNT(*)", "(SELECT n FROM tot)")} AS share
    FROM toks GROUP BY token
    HAVING COUNT(*) * {k_inv} >= (SELECT n FROM tot)
    """


# ---------------------------------------------------------------------------
# training-sequence packing (token-offset assignment)
# ---------------------------------------------------------------------------


def seq_packing(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
    ctx: int = 512,
    n_buckets: int = 16,
) -> DataFrame:
    """GPT-style pre-training sequence assignment: documents are
    concatenated (in deterministic id order) into one token stream per
    (`group_col`, bucket) stratum, and the stream is cut into
    fixed-`ctx`-token training sequences; each doc reports which
    sequences its tokens land in (docs SPAN sequence boundaries — the
    concat-and-split regime, unlike `pack_shards`' greedy whole-doc
    bins). Emits per doc: its stream offset, first/last sequence index,
    how many sequences it spans, and its offset inside the first
    sequence — exactly what a sequence-loader needs to locate any doc.

    Scale: same stratification as `pack_shards` — the prefix sum is a
    window over (source, id-mod-bucket), parallelism n_sources ×
    n_buckets, never a global ORDER BY. Token counting and all derived
    columns are codegen'd expressions; the window shuffle on the short
    (source, bucket, id, n_tokens) projection is the only exchange.

    Reference analog: the spout's deterministic (priority, ctime)
    ordering of work items (src/spouts/files_mails.py:96-104) recast as
    the reproducible global order a training-data loader needs."""
    from pyspark.sql import Window

    toks = F.size(
        F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+")
    ).cast("long")
    bucket = F.pmod(F.col(id_col), F.lit(n_buckets)).cast("int")
    w = (
        Window.partitionBy(group_col, "bucket")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = F.sum("n_tokens").over(w) - F.col("n_tokens")
    first_seq = F.floor(start / F.lit(ctx))
    last_seq = F.floor((start + F.col("n_tokens") - 1) / F.lit(ctx))
    return (
        df.select(
            F.col(id_col),
            F.col(group_col),
            toks.alias("n_tokens"),
            bucket.alias("bucket"),
        )
        .select(
            id_col,
            group_col,
            "n_tokens",
            "bucket",
            start.alias("tok_start"),
            first_seq.alias("first_seq"),
            last_seq.alias("last_seq"),
            (last_seq - first_seq + 1).alias("n_seqs"),
            F.pmod(start, F.lit(ctx)).alias("offset_in_seq"),
            F.concat_ws("/", F.col(group_col), F.col("bucket"), first_seq).alias(
                "seq_id"
            ),
        )
    )


def sql_seq_packing(
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
    ctx: int = 512,
    n_buckets: int = 16,
) -> str:
    toks = (
        f"CAST(len(string_split_regex(trim(coalesce({text_col}, '')),"
        f" '\\s+')) AS BIGINT)"
    )
    # CAST matters: DuckDB SUM(BIGINT) yields HUGEINT, which a pandas
    # fetch downcasts to float64 ('12.0' vs Spark's '12') — every
    # integer output column must leave the oracle as BIGINT.
    start = (
        f"CAST(SUM(n_tokens) OVER (PARTITION BY {group_col}, bucket"
        f" ORDER BY {id_col} ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT)"
    )
    return f"""
    WITH t AS (
        SELECT {id_col}, {group_col}, {toks} AS n_tokens,
               CAST({id_col} % {n_buckets} AS INTEGER) AS bucket
        FROM {table}
    ), o AS (
        SELECT {id_col}, {group_col}, n_tokens, bucket,
               {start} AS tok_start
        FROM t
    )
    SELECT {id_col}, {group_col}, n_tokens, bucket, tok_start,
        CAST(floor(tok_start / {ctx}) AS BIGINT) AS first_seq,
        CAST(floor((tok_start + n_tokens - 1) / {ctx}) AS BIGINT) AS last_seq,
        CAST(floor((tok_start + n_tokens - 1) / {ctx})
             - floor(tok_start / {ctx}) + 1 AS BIGINT) AS n_seqs,
        tok_start % {ctx} AS offset_in_seq,
        {group_col} || '/' || CAST(bucket AS VARCHAR) || '/'
            || CAST(CAST(floor(tok_start / {ctx}) AS BIGINT) AS VARCHAR)
            AS seq_id
    FROM o
    """


# ---------------------------------------------------------------------------
# DSIR-style importance weights (hashed-unigram log-likelihood ratio)
# ---------------------------------------------------------------------------


def dsir_weights(
    corpus: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023,
    arXiv:2302.03169): score every corpus document by how much it looks
    like a small TARGET domain, using hashed-unigram bag features —
    weight(d) = mean over tokens of ln(p_target(bucket) /
    p_corpus(bucket)), add-one smoothed. High scorers are
    target-domain-like and survive importance resampling.

    Shape (100 TB): both distributions are D-row aggregates (D =
    HASH_DIM buckets, textstats.token_bucket md5 hashing — identical in
    the SQL twin); the log-ratio model is a D-row broadcast join; the
    corpus pays one partition-local tokenize+explode pre-aggregated to
    per-(doc, bucket) counts, and one groupBy on the doc id. The target
    set is small by construction (a benchmark / curated domain sample).
    No Python, no driver-side model, nothing quadratic."""
    from ..functions.textstats import HASH_DIM, token_bucket

    def bucketize(df: DataFrame, *keep: str) -> DataFrame:
        toks = F.filter(
            F.split(F.trim(F.lower(F.coalesce(F.col(text_col), F.lit("")))), r"\s+"),
            lambda x: x != "",
        )
        return df.select(*keep, F.explode(toks).alias("tok")).select(
            *keep, token_bucket(F.col("tok")).alias("bucket")
        )

    spark = corpus.sparkSession
    spine = spark.range(HASH_DIM).select(F.col("id").cast("int").alias("bucket"))
    t_counts = bucketize(target).groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_t")
    )
    s_counts = bucketize(corpus).groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_s")
    )
    full = (
        spine.join(t_counts, on="bucket", how="left")
        .join(s_counts, on="bucket", how="left")
        .select(
            "bucket",
            F.coalesce("n_t", F.lit(0)).alias("n_t"),
            F.coalesce("n_s", F.lit(0)).alias("n_s"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy()  # D rows post-agg — not a corpus-wide window
    model = full.select(
        "bucket",
        (
            F.log(
                (F.col("n_t") + 1).cast("double")
                / (F.sum("n_t").over(w) + F.lit(HASH_DIM))
            )
            - F.log(
                (F.col("n_s") + 1).cast("double")
                / (F.sum("n_s").over(w) + F.lit(HASH_DIM))
            )
        ).alias("lr"),
    )
    doc_b = bucketize(corpus, id_col).groupBy(id_col, "bucket").agg(
        F.count(F.lit(1)).alias("n_db")
    )
    return (
        doc_b.join(F.broadcast(model), on="bucket")
        .groupBy(id_col)
        .agg(
            # half-up micro-unit BIGINT (functions/exact.py) — same
            # irrational-score contract as bigram_logprob_e6
            exact.half_up_units(
                F.sum(F.col("n_db") * F.col("lr")) / F.sum("n_db"), 6
            ).alias("dsir_logweight_e6"),
            F.sum("n_db").alias("n_tok"),
        )
    )


def sql_dsir_weights(
    corpus_sql: str,
    target_sql: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    from ..functions.textstats import HASH_DIM

    def toks(src: str, keep: str) -> str:
        t = (
            f"list_filter(string_split_regex(trim(lower(coalesce({text_col},"
            f" ''))), '\\s+'), x -> x <> '')"
        )
        return (
            f"SELECT {keep} CAST('0x' || substr(md5(tok), 1, 4) AS INTEGER)"
            f" % {HASH_DIM} AS bucket"
            f" FROM (SELECT *, unnest({t}) AS tok FROM ({src}))"
        )

    return f"""
    WITH spine AS (
        SELECT CAST(range AS INTEGER) AS bucket FROM range({HASH_DIM})
    ), tb AS (
        SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_t
        FROM ({toks(target_sql, '')}) GROUP BY bucket
    ), sb AS (
        SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_s
        FROM ({toks(corpus_sql, '')}) GROUP BY bucket
    ), full_t AS (
        SELECT s.bucket, coalesce(n_t, 0) AS n_t, coalesce(n_s, 0) AS n_s
        FROM spine s LEFT JOIN tb USING (bucket) LEFT JOIN sb USING (bucket)
    ), model AS (
        SELECT bucket,
            ln(CAST(n_t + 1 AS DOUBLE) / (SUM(n_t) OVER () + {HASH_DIM}))
          - ln(CAST(n_s + 1 AS DOUBLE) / (SUM(n_s) OVER () + {HASH_DIM})) AS lr
        FROM full_t
    ), doc_b AS (
        SELECT {id_col}, bucket, CAST(COUNT(*) AS BIGINT) AS n_db
        FROM ({toks(corpus_sql, f'{id_col},')}) GROUP BY {id_col}, bucket
    )
    SELECT d.{id_col},
           {exact.sql_half_up_units("SUM(d.n_db * m.lr) / SUM(d.n_db)", 6)}
               AS dsir_logweight_e6,
           CAST(SUM(d.n_db) AS BIGINT) AS n_tok
    FROM doc_b d JOIN model m USING (bucket)
    GROUP BY d.{id_col}
    """


# ---------------------------------------------------------------------------
# CCNet-style perplexity bucketing (head / middle / tail)
# ---------------------------------------------------------------------------

_PPL_LO = repr(1 / 3)  # exact double literals — Spark and DuckDB must
_PPL_HI = repr(2 / 3)  # interpolate at bit-identical fractions


def ccnet_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CCNet-style quality tiers (Wenzek et al. 2020, arXiv:1911.00359):
    score every doc under the corpus's own bigram LM (`bigram_logprob`),
    then cut the corpus into head / middle / tail at the tercile
    boundaries of the score distribution — the standard coarse quality
    split pre-training mixtures are built from.

    Shape: the LM scoring is `bigram_logprob`'s one-exchange plan; the
    cutoffs are ONE exact-percentile aggregate row (distributed sort-
    based percentile, no driver collect) broadcast back over the scored
    docs. Rounded scores feed the percentile on both engines, so the
    cutoffs and the tier comparisons are bit-identical."""
    scores = bigram_logprob(df, id_col=id_col, text_col=text_col)
    cuts = scores.agg(
        F.percentile("bigram_logprob_e6", F.lit(1 / 3)).alias("c1"),
        F.percentile("bigram_logprob_e6", F.lit(2 / 3)).alias("c2"),
    )
    tier = (
        F.when(F.col("bigram_logprob_e6") >= F.col("c2"), F.lit("head"))
        .when(F.col("bigram_logprob_e6") >= F.col("c1"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return scores.crossJoin(F.broadcast(cuts)).select(
        id_col, "bigram_logprob_e6", tier.alias("ppl_bucket")
    )


def sql_ccnet_buckets(
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    lm = sql_bigram_logprob(table, id_col=id_col, text_col=text_col)
    return f"""
    WITH scores AS ({lm}),
    cuts AS (
        SELECT quantile_cont(CAST(bigram_logprob_e6 AS DOUBLE), {_PPL_LO})
                   AS c1,
               quantile_cont(CAST(bigram_logprob_e6 AS DOUBLE), {_PPL_HI})
                   AS c2
        FROM scores
    )
    SELECT s.{id_col}, s.bigram_logprob_e6,
        CASE WHEN s.bigram_logprob_e6 >= c.c2 THEN 'head'
             WHEN s.bigram_logprob_e6 >= c.c1 THEN 'middle'
             ELSE 'tail' END AS ppl_bucket
    FROM scores s CROSS JOIN cuts c
    """


# ---------------------------------------------------------------------------
# weighted sampling without replacement — Efraimidis–Spirakis A-Res
# ---------------------------------------------------------------------------

_HASH_SPACE_48 = float(1 << 48)


def weighted_sample(
    df: DataFrame, k: int, id_col: str = "doc_id", weight_col: str = "n_chars"
) -> DataFrame:
    """Deterministic weighted sampling without replacement (Efraimidis
    & Spirakis 2006, A-Res): each row gets key ln(u)/w with u an
    md5-derived uniform in (0,1); the k largest keys are the sample,
    and P[row in sample] is proportional to its weight. ln(u)/w is the
    rank-equivalent log form of the paper's u^(1/w) (ln is monotone,
    1/w > 0) — it avoids pow() underflow at large weights.

    Deterministic u (hash of the id, not rand()) makes the draw
    reproducible across engines, partitionings, and reruns — the same
    property stratified_sample relies on — so the selected id set is
    oracle-checkable. Rows with null/non-positive weight are excluded
    (zero weight = never sampled, matching the A-Res limit).

    Scale shape: global top-k compiles to TakeOrderedAndProject —
    per-partition top-k then a k-row merge at the driver side of the
    exchange; the corpus never globally sorts. This IS the distributed
    reservoir: each partition keeps k candidates, merge keeps k."""
    h = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 12), 16, 10).cast(
        "long"
    )
    u = (h.cast("double") + F.lit(0.5)) / F.lit(_HASH_SPACE_48)
    key = F.log(u) / F.col(weight_col).cast("double")
    return (
        df.where(F.col(weight_col).isNotNull() & (F.col(weight_col) > 0))
        .select(id_col, weight_col, key.alias("_ares_key"))
        .orderBy(F.desc("_ares_key"), F.asc(id_col))
        .limit(k)
        .drop("_ares_key")
    )


def sql_weighted_sample(
    table: str, k: int, id_col: str = "doc_id", weight_col: str = "n_chars"
) -> str:
    """DuckDB twin — identical hash→uniform→key arithmetic and
    tie-break."""
    u = (
        f"(CAST('0x' || substr(md5(CAST({id_col} AS VARCHAR)), 1, 12) AS BIGINT)"
        f" + 0.5) / {_HASH_SPACE_48}"
    )
    return f"""
    SELECT {id_col}, {weight_col}
    FROM {table}
    WHERE {weight_col} IS NOT NULL AND {weight_col} > 0
    ORDER BY ln({u}) / CAST({weight_col} AS DOUBLE) DESC, {id_col} ASC
    LIMIT {k}
    """


def weighted_sample_per_group(
    df: DataFrame,
    k: int,
    group_col: str = "lang",
    id_col: str = "doc_id",
    weight_col: str = "n_chars",
) -> DataFrame:
    """Per-stratum A-Res: the k largest ln(u)/w keys within each group
    — balanced per-language subcorpora where global weighted sampling
    would let a dominant stratum crowd out the tail. Same deterministic
    key as `weighted_sample`; one window per group partition (hash
    shuffle on the group key, skew bounded by stratum size)."""
    from pyspark.sql import Window as W

    h = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 12), 16, 10).cast(
        "long"
    )
    u = (h.cast("double") + F.lit(0.5)) / F.lit(_HASH_SPACE_48)
    key = F.log(u) / F.col(weight_col).cast("double")
    w = W.partitionBy(group_col).orderBy(F.desc(key), F.asc(id_col))
    return (
        df.where(F.col(weight_col).isNotNull() & (F.col(weight_col) > 0))
        .withColumn("_rnk", F.row_number().over(w))
        .where(F.col("_rnk") <= k)
        .select(group_col, id_col, weight_col)
    )


def sql_weighted_sample_per_group(
    table: str,
    k: int,
    group_col: str = "lang",
    id_col: str = "doc_id",
    weight_col: str = "n_chars",
) -> str:
    u = (
        f"(CAST('0x' || substr(md5(CAST({id_col} AS VARCHAR)), 1, 12) AS BIGINT)"
        f" + 0.5) / {_HASH_SPACE_48}"
    )
    return f"""
    SELECT {group_col}, {id_col}, {weight_col} FROM (
        SELECT {group_col}, {id_col}, {weight_col},
            row_number() OVER (
                PARTITION BY {group_col}
                ORDER BY ln({u}) / CAST({weight_col} AS DOUBLE) DESC, {id_col} ASC
            ) AS rnk
        FROM {table}
        WHERE {weight_col} IS NOT NULL AND {weight_col} > 0
    ) WHERE rnk <= {k}
    """
