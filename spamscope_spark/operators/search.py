"""Full-text search scoring: BM25 top-k over a document corpus.

The reference's output sink is Elasticsearch (src/bolts/
output_elasticsearch.py:30-107) — mails are indexed *so that analysts
can run relevance-ranked full-text queries over them*. This module
supplies that query path natively: an inverted-postings BM25 ranker
built entirely from DataFrame aggregations, so the "switch to this
repo" user keeps the search capability without the external cluster.

Formula (Lucene/Okapi):
    idf(t)     = ln(1 + (N - df_t + 0.5) / (df_t + 0.5))
    score(q,d) = sum_{t in q} idf(t) * tf * (k1+1)
                              / (tf + k1 * (1 - b + b * dl/avgdl))
with avgdl = total_tokens / N over the whole corpus.

Scale shape (the 100 TB story):
- one explode over text → token stream; the postings that survive past
  the first join are only those matching a **broadcast** query-term
  dimension (a search workload has O(10-1000) distinct terms vs O(10^9)
  corpus terms — the filter drops ~everything map-side, before any wide
  shuffle);
- doc length and corpus totals are partial-aggregated map-side; the
  corpus-level constants (N, total token count) travel as a broadcast
  1-row aggregate, never a driver action;
- per-term doc frequencies are an aggregate over the already-filtered
  postings (rows ≤ |terms| × docs-containing-term), broadcast back;
- final ranking is a per-query row_number window — bounded by k, never
  a global sort.

Determinism note: each query here carries ≤ 2 terms, so the per-doc
score sum is a single IEEE addition — commutative, hence bit-identical
between Spark and the DuckDB oracle regardless of aggregation order.
(With wider queries, round per-term contributions before summing or
accept last-ulp risk at the round-to-4dp boundary.)
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..functions import exact
from . import guards

__all__ = ["bm25_topk", "sql_bm25_topk"]


def _tokens(text_col: str) -> F.Column:
    """Whitespace tokens, lowercased — the same tokenizer as tf-idf
    (operators/corpus.py::tfidf_topk) so term statistics agree across
    the corpus suite."""
    return F.filter(
        F.split(F.lower(F.trim(F.coalesce(F.col(text_col), F.lit("")))), r"\s+"),
        lambda x: x != "",
    )


def bm25_topk(
    spark: SparkSession,
    df: DataFrame,
    query_terms: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-k documents per query by BM25. ``query_terms`` is a list of
    (query_id, term) rows — the tiny broadcast dimension. Returns
    (query_id, doc_id, score, rank) with score rounded to 4dp (the
    rounded value also orders the ranking so ties are engine-stable).
    """
    toks = df.select(F.col(id_col), F.explode(_tokens(text_col)).alias("term"))

    # corpus constants: one broadcast row (N docs, total tokens, avgdl)
    glob = (
        df.agg(F.count(F.lit(1)).alias("n_docs"))
        .crossJoin(toks.agg(F.count(F.lit(1)).alias("total_toks")))
        .withColumn("avgdl", F.col("total_toks") / F.col("n_docs"))
    )

    dl = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))

    qt = spark.createDataFrame(query_terms, "query_id string, term string")
    # broadcast semi-filter: only postings for searched terms survive
    tf = (
        toks.join(F.broadcast(qt.select("term").distinct()), "term")
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_docs"))

    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df_docs") + F.lit(0.5))
        / (F.col("df_docs") + F.lit(0.5))
    )
    norm = F.col("tf") * (k1 + 1) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
    )
    per_term = (
        tf.join(dl, id_col)
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(glob))
        .withColumn("term_score", idf * norm)
    )
    scored = (
        per_term.join(F.broadcast(qt), "term")
        .groupBy("query_id", id_col)
        # half-up 1e-4-unit BIGINT (functions/exact.py): the ln-based
        # score class is irrational (never ON the grid) and round(x, 4)
        # was engine-ambiguous at half boundaries; ranking on the
        # quantized integer keeps the top-k cut engine-stable
        .agg(
            exact.half_up_units(F.sum("term_score"), 4).alias("score_e4")
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_e4").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", id_col, "score_e4", "rank")
    )


def sql_bm25_topk(
    table: str,
    query_terms: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_expr: str = "text",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> str:
    """DuckDB twin — identical formula and tie-break."""
    values = ", ".join(
        f"('{q}', '{t}')" for q, t in query_terms
    )
    return f"""
    WITH toks AS (
        SELECT {id_col}, unnest(list_filter(string_split_regex(
            lower(trim(coalesce({text_expr}, ''))), '\\s+'), x -> x <> ''))
            AS term
        FROM {table}
    ), cstats AS (
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM {table}) AS n_docs,
               CAST(COUNT(*) AS BIGINT) AS total_toks,
               CAST(COUNT(*) AS DOUBLE)
                   / (SELECT COUNT(*) FROM {table}) AS avgdl
        FROM toks
    ), dl AS (
        SELECT {id_col}, CAST(COUNT(*) AS BIGINT) AS dl
        FROM toks GROUP BY {id_col}
    ), qt(query_id, term) AS (VALUES {values}),
    tf AS (
        SELECT {id_col}, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM toks
        WHERE term IN (SELECT DISTINCT term FROM qt)
        GROUP BY {id_col}, term
    ), dfreq AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS df_docs
        FROM tf GROUP BY term
    ), per_term AS (
        SELECT tf.{id_col}, tf.term,
            ln(1.0 + (cstats.n_docs - dfreq.df_docs + 0.5)
                     / (dfreq.df_docs + 0.5))
            * tf.tf * ({k1} + 1)
            / (tf.tf + {k1} * (1 - {b} + {b} * dl.dl / cstats.avgdl))
                AS term_score
        FROM tf
        JOIN dl USING ({id_col})
        JOIN dfreq USING (term)
        CROSS JOIN cstats
    ), scored AS (
        SELECT qt.query_id, per_term.{id_col},
            {exact.sql_half_up_units("SUM(per_term.term_score)", 4)}
                AS score_e4
        FROM per_term JOIN qt USING (term)
        GROUP BY 1, 2
    )
    SELECT query_id, {id_col}, score_e4, rank FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY score_e4 DESC, {id_col} ASC) AS INT) AS rank
        FROM scored
    ) WHERE rank <= {k}
    """


# ---------------------------------------------------------------------------
# Positional phrase matching (ES match_phrase analog)
# ---------------------------------------------------------------------------


def phrase_search_topk(
    spark: SparkSession,
    df: DataFrame,
    phrases: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
) -> DataFrame:
    """Top-k documents per query by EXACT phrase occurrence count — the
    Elasticsearch `match_phrase` analog (the reference indexes mails to
    ES precisely so analysts can run such queries;
    src/bolts/output_elasticsearch.py:30-107). ``phrases`` is a list of
    (query_id, phrase) with space-separated terms.

    Shape (100 TB): NOT a positional-postings self-join — for a small
    query set (the search workload: O(10-100) phrases vs O(10^9) docs)
    the Spark-first form is a per-document ARRAY SCAN: tokenize once in
    the scan projection, cross the broadcast phrase dimension, and
    count matching token windows with pure array expressions (slice +
    array_join inside whole-stage codegen). Zero shuffles before the
    bounded top-k window; cost is |docs| x |phrases| codegen'd scans of
    in-memory token arrays, embarrassingly parallel. (A postings join
    only wins when the phrase set is itself huge.) All-integer output:
    no float hazard between engines."""
    guards.check_literal_dim(phrases, "phrase_search_topk phrases")
    pdim = spark.createDataFrame(phrases, "query_id string, phrase string")
    d = df.select(F.col(id_col), _tokens(text_col).alias("toks"))
    pt = F.split(F.col("phrase"), " ")
    n_win = F.size("toks") - F.size(pt) + 1
    occ = F.when(
        n_win >= 1,
        F.size(
            F.filter(
                F.sequence(F.lit(1), F.greatest(n_win, F.lit(1))),
                lambda i: F.array_join(F.slice("toks", i, F.size(pt)), " ")
                == F.col("phrase"),
            )
        ),
    ).otherwise(F.lit(0))
    m = (
        d.crossJoin(F.broadcast(pdim))
        .select(
            "query_id",
            id_col,
            occ.cast("long").alias("n_occurrences"),
        )
        .where(F.col("n_occurrences") > 0)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("n_occurrences").desc(), F.col(id_col).asc()
    )
    return (
        m.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("query_id", id_col, "n_occurrences", "rank")
    )


def sql_phrase_search_topk(
    table: str,
    phrases: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_expr: str = "text",
    k: int = 10,
) -> str:
    """DuckDB twin — same tokenizer, same window-scan count, same
    tie-break. list_slice is end-INCLUSIVE (i .. i+L-1), matching
    Spark's slice(toks, i, L) start+length form."""
    values = ", ".join(f"('{q}', '{t}')" for q, t in phrases)
    toks = (
        f"list_filter(string_split_regex(lower(trim(coalesce({text_expr},"
        f" ''))), '\\s+'), x -> x <> '')"
    )
    return f"""
    WITH d AS (
        SELECT {id_col}, {toks} AS toks FROM {table}
    ), q(query_id, phrase) AS (VALUES {values}),
    m AS (
        SELECT query_id, {id_col},
            CAST(CASE WHEN len(toks) - len(string_split(phrase, ' ')) + 1 >= 1
                THEN len(list_filter(
                    range(1, len(toks) - len(string_split(phrase, ' ')) + 2),
                    i -> array_to_string(list_slice(toks, i,
                        i + len(string_split(phrase, ' ')) - 1), ' ') = phrase))
                ELSE 0 END AS BIGINT) AS n_occurrences
        FROM d CROSS JOIN q
    )
    SELECT query_id, {id_col}, n_occurrences, rank FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY n_occurrences DESC, {id_col} ASC) AS INT) AS rank
        FROM m WHERE n_occurrences > 0
    ) WHERE rank <= {k}
    """


# ---------------------------------------------------------------------------
# Inverted-index construction (positional postings) — the search-engine
# ingestion shape: ES/Lucene builds exactly this per shard when the
# reference indexes mails for analysts (src/bolts/output_elasticsearch
# .py:30-107); at corpus scale it is also how phrase/proximity search
# stops being a per-query corpus scan.
# ---------------------------------------------------------------------------


def build_postings(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 1,
    max_df: int | None = None,
) -> DataFrame:
    """(term, df_docs, n_occurrences, postings): the positional
    inverted index in deterministic text form — postings is
    "doc:pos1,pos2 doc:pos…" with docs ascending and 0-based token
    positions ascending, so the cell is byte-identical cross-engine.

    Shape (100 TB): posexplode → per-(term, doc) position fold (one
    shuffle, map-side partial lists are per-doc-bounded) → per-term
    assembly (second shuffle on the term key). `max_df` drops
    stopword-class terms EXPLICITLY (their postings are corpus-sized;
    real indexers elide or impact-sort them) — a loud bound, not a
    silent truncation; `min_df` drops hapax noise. Struct array_sort
    orders by doc id, so assembly never needs a global sort."""
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.posexplode(_tokens(text_col)).alias("pos", "term"),
    )
    # (term, doc) is unique after this fold, so doc alone totally orders
    # a term's entries: array_sort(struct(doc, e)) below and the DuckDB
    # oracle's string_agg(... ORDER BY doc) then build identical bytes.
    per_doc = toks.groupBy("term", "doc").agg(
        F.sort_array(F.collect_list("pos")).alias("poss"),
        F.count(F.lit(1)).alias("n"),
    )
    entry = F.concat(
        F.col("doc").cast("string"),
        F.lit(":"),
        F.array_join(
            F.transform(F.col("poss"), lambda p: p.cast("string")), ","
        ),
    )
    per_term = (
        per_doc.select("term", "doc", "n", entry.alias("e"))
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df_docs"),
            F.sum("n").alias("n_occurrences"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("doc"), F.col("e")))
                    ),
                    lambda x: x["e"],
                ),
                " ",
            ).alias("postings"),
        )
        .where(F.col("df_docs") >= min_df)
    )
    if max_df is not None:
        per_term = per_term.where(F.col("df_docs") <= max_df)
    return per_term.select("term", "df_docs", "n_occurrences", "postings")


def sql_build_postings(
    table: str,
    id_col: str = "doc_id",
    text_expr: str = "text",
    min_df: int = 1,
    max_df: int | None = None,
) -> str:
    """DuckDB twin — same tokenizer, same 0-based positions, same
    deterministic assembly order."""
    toks = (
        f"list_filter(string_split_regex(lower(trim(coalesce({text_expr},"
        f" ''))), '\\s+'), x -> x <> '')"
    )
    cap = f"AND COUNT(*) <= {max_df}" if max_df is not None else ""
    return f"""
    WITH d AS (
        SELECT {id_col} AS doc, {toks} AS w FROM {table}
    ), toks AS (
        SELECT doc, i - 1 AS pos, w[i] AS term
        FROM d, unnest(range(1, len(w) + 1)) AS t(i)
        WHERE len(w) >= 1
    ), per_doc AS (
        SELECT term, doc,
               CAST(COUNT(*) AS BIGINT) AS n,
               doc || ':' || string_agg(CAST(pos AS VARCHAR), ','
                                        ORDER BY pos) AS e
        FROM toks GROUP BY term, doc
    )
    SELECT term,
           CAST(COUNT(*) AS BIGINT) AS df_docs,
           CAST(SUM(n) AS BIGINT) AS n_occurrences,
           string_agg(e, ' ' ORDER BY doc) AS postings
    FROM per_doc
    GROUP BY term
    HAVING COUNT(*) >= {min_df} {cap}
    """


def phrase_search_via_postings(
    spark: SparkSession,
    df: DataFrame,
    phrases: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
) -> DataFrame:
    """The OTHER physical strategy for exact phrase matching — the
    positional-postings join that wins when the phrase set is itself
    huge (phrase_search_topk's array scan pays |docs| x |phrases|
    window scans; this pays one broadcast semi-filter plus ONE grouped
    join, independent of how many phrases probe it).

    Classic alignment trick: explode each phrase to (query_id, term,
    offset); join token occurrences on term; a phrase occurrence at
    start s exists iff (doc, s) collects all |phrase| DISTINCT offsets
    with term matches at pos = s + offset — one groupBy on
    (query_id, doc, start), no k-way self-join, no position
    arithmetic fan-out. Same output contract as phrase_search_topk
    (and graded against ITS oracle — two independent physical plans,
    one answer)."""
    guards.check_literal_dim(phrases, "phrase_search_via_postings phrases")
    prows = []
    for qid, phrase in phrases:
        terms = [t for t in phrase.lower().split() if t]
        for off, term in enumerate(terms):
            prows.append((qid, term, off, len(terms)))
    pdim = spark.createDataFrame(
        prows, "query_id string, term string, off int, plen int"
    )
    toks = df.select(
        F.col(id_col), F.posexplode(_tokens(text_col)).alias("pos", "term")
    )
    hits = (
        toks.join(F.broadcast(pdim), "term")
        .select(
            "query_id",
            id_col,
            "plen",
            (F.col("pos") - F.col("off")).alias("start"),
            "off",
        )
    )
    occ = (
        hits.groupBy("query_id", id_col, "plen", "start")
        .agg(F.count_distinct("off").alias("n_off"))
        .where((F.col("n_off") == F.col("plen")) & (F.col("start") >= 0))
        .groupBy("query_id", id_col)
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("n_occurrences").desc(), F.col(id_col).asc()
    )
    return (
        occ.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("query_id", id_col, "n_occurrences", "rank")
    )
