"""Phishing bitmap scorer as pure Catalyst column math.

Exact bit layout of the reference (phishing_bitmap.py:30-39):
  mail_body=0, urls_body=1, text_attachments=2, urls_attachments=3,
  filename_attachments=4, mail_from=5, mail_subject=6, mail_form=7
and scoring structure of check_phishing (phishing.py:81-163), recast to
conversation-turn surfaces (FIXTURES.md §2):
  text → mail_body/mail_subject/mail_form surfaces,
  URLs in text → urls_body, tool-output text → text_attachments,
  URLs in tool text → urls_attachments, tool name →
  filename_attachments, author/role surface → mail_from.

Everything is `when/instr/exists` column logic — whole-stage codegen,
no Python. The golden tests pin score==123 for the mail_thug-equivalent
fixture (reference tests/test_phishing.py:108-126).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from ..oracle import PHISHING_BITMAP
from .keywords import matched_targets, search_words
from .urls import extract_urls, filter_whitelisted

RE_FORM = r"(?i)<form[\s>]"


def check_form(text: Column) -> Column:
    return F.coalesce(text, F.lit("")).rlike(RE_FORM)


def urls_match_any_target(urls: Column, target_keys: dict[str, list]) -> Column:
    """True iff any target's keyword list matches any URL string
    (check_urls, phishing.py:62-78)."""
    pred = F.lit(False)
    for kws in target_keys.values():
        pred = pred | F.exists(urls, lambda s: search_words(s["url"], kws))
    return pred


def score_expanded_col(score: Column) -> Column:
    """Set-bit property names MSB→LSB (bitmap.py:192-204)."""
    by_pos_desc = sorted(PHISHING_BITMAP.items(), key=lambda kv: kv[1], reverse=True)
    entries = [
        F.when(score.bitwiseAND(F.lit(1 << pos)) > 0, F.lit(name))
        for name, pos in by_pos_desc
    ]
    return F.filter(F.array(*entries), lambda x: x.isNotNull())


def with_phishing_columns(
    df: DataFrame,
    *,
    text: Column,
    tool_text: Column | None = None,
    tool_name: Column | None = None,
    author: Column | None = None,
    target_keys: dict[str, list],
    subject_keys: list,
    whitelist: list[str] | None = None,
) -> DataFrame:
    """Adds the urls, targets, phishing_score, score_expanded and
    with_phishing columns. Surfaces may be omitted (bits stay 0), same
    as absent mail parts in the reference. Intermediates (extracted
    urls, per-surface target arrays) are materialized as named columns
    so each expensive subtree appears ONCE in the plan instead of being
    inlined into every bit check — smaller Catalyst trees (analysis
    time) and no recomputation (CollapseProject keeps multi-referenced
    non-cheap expressions staged)."""
    tool_text = tool_text if tool_text is not None else F.lit(None).cast("string")
    tool_name = tool_name if tool_name is not None else F.lit(None).cast("string")
    author = author if author is not None else F.lit(None).cast("string")

    df = df.withColumn("urls", filter_whitelisted(extract_urls(text), whitelist or []))
    df = df.withColumn(
        "_urls_tool", filter_whitelisted(extract_urls(tool_text), whitelist or [])
    )
    df = (
        df.withColumn("_tg_body", matched_targets(F.coalesce(text, F.lit("")), target_keys))
        .withColumn("_tg_from", matched_targets(F.coalesce(author, F.lit("")), target_keys))
        .withColumn("_tg_tool", matched_targets(F.coalesce(tool_text, F.lit("")), target_keys))
        .withColumn("_tg_name", matched_targets(F.coalesce(tool_name, F.lit("")), target_keys))
    )

    def nonempty(surface: Column) -> Column:
        return surface.isNotNull() & (F.length(surface) > 0)

    bit = {
        "mail_body": nonempty(text) & (F.size("_tg_body") > 0),
        "mail_from": nonempty(author) & (F.size("_tg_from") > 0),
        "text_attachments": nonempty(tool_text) & (F.size("_tg_tool") > 0),
        "filename_attachments": nonempty(tool_name) & (F.size("_tg_name") > 0),
        "urls_body": (F.size("urls") > 0)
        & urls_match_any_target(F.col("urls"), target_keys),
        "urls_attachments": (F.size("_urls_tool") > 0)
        & urls_match_any_target(F.col("_urls_tool"), target_keys),
        "mail_subject": search_words(F.coalesce(text, F.lit("")), subject_keys),
        "mail_form": check_form(text),
    }
    score = F.lit(0)
    for name, pos in PHISHING_BITMAP.items():
        score = score + F.when(bit[name], F.lit(1 << pos)).otherwise(F.lit(0))
    df = df.withColumn("phishing_score", score.cast("int"))
    df = df.withColumn(
        "targets",
        F.array_sort(
            F.array_distinct(
                F.concat(
                    F.col("_tg_body"), F.col("_tg_from"),
                    F.col("_tg_tool"), F.col("_tg_name"),
                )
            )
        ),
    )
    df = df.withColumn("score_expanded", score_expanded_col(F.col("phishing_score")))
    df = df.withColumn(
        "with_phishing",
        (F.col("phishing_score") > 0)
        & ((F.size("urls") > 0) | (F.size("_urls_tool") > 0)),
    )
    return df.drop("_urls_tool", "_tg_body", "_tg_from", "_tg_tool", "_tg_name")
