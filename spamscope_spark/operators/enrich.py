"""Per-turn enrichment — the Tokenizer-bolt analog (reference
src/bolts/tokenizer.py:42-224), as one declarative wide-DataFrame stage.

The reference fans one mail out into 5 typed streams; in Spark the
natural design is a single wide row with all enrichment columns
(SURVEY.md §2.3 fan-out note) — branches exist only where a second
stream genuinely forces state (streaming layer).

Works identically on batch DataFrames and streaming DataFrames except
for the dedup flag: batch uses a window rank (deterministic first-seen
by (ts, conv_id, turn_idx)); a stream cannot rank over its unbounded
input, so the enriched query applies the same rank per epoch in its
foreachBatch against a seen-set snapshot (streaming/dedup_state.py).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from ..datagen import SUBJECT_KEYS, TARGET_KEYS, WHITELIST_DOMAINS
from ..functions.fingerprints import shingle_signature_udf, with_fingerprints
from ..functions.phishing import with_phishing_columns


def enrich_turns(
    df: DataFrame,
    target_keys: dict[str, list] | None = None,
    subject_keys: list | None = None,
    whitelist: list[str] | None = None,
    with_shingle: bool = True,
    dedup_flag: bool = True,
) -> DataFrame:
    """turns → enriched turns (ENRICHED_SCHEMA minus session columns).

    Surfaces (FIXTURES.md §2): text → body/subject/form bits; URLs in
    text → urls_body; tool name → filename_attachments; role → author.
    The tool-output (text_attachments) surface is only available after
    the tool-call/response join (streaming layer).
    """
    target_keys = target_keys if target_keys is not None else TARGET_KEYS
    subject_keys = subject_keys if subject_keys is not None else SUBJECT_KEYS
    whitelist = whitelist if whitelist is not None else WHITELIST_DOMAINS

    out = with_fingerprints(df, "text")
    if with_shingle:
        out = out.withColumn("shingle_sig", shingle_signature_udf(F.col("text")))
    else:
        out = out.withColumn("shingle_sig", F.lit(None).cast("string"))

    out = with_phishing_columns(
        out,
        text=F.col("text"),
        tool_name=F.col("tool"),
        author=F.col("role"),
        target_keys=target_keys,
        subject_keys=subject_keys,
        whitelist=whitelist,
    )

    if dedup_flag:
        return with_dedup_flag(out)
    # placeholder: the enriched query replaces it per epoch
    # (streaming/dedup_state.dedup_fold)
    return out.withColumn("is_filtered", F.lit(False))


def with_dedup_flag(df: DataFrame, key: str = "sha1") -> DataFrame:
    """Batch dedup *flag* (not drop): first occurrence by event order
    keeps is_filtered=False, later identical texts are flagged — the
    reference blanks duplicate bodies instead of dropping rows
    (tokenizer.py:176-186). Shuffles once on the fingerprint key."""
    w = Window.partitionBy(key).orderBy("ts", "conv_id", "turn_idx")
    return df.withColumn("is_filtered", F.row_number().over(w) > 1)
