"""Deterministic synthetic transcript generator (FIXTURES.md §1).

Everything is a pure Spark-expression function of (conv_id, turn_idx) —
no wall clock, no RNG state — so the same call produces byte-identical
tables at any parallelism (local[8] vs local[32]) and any partitioning.
Scales distributedly: `spark.range(n_convs)` → `explode(sequence(...))`,
so the 10^12-turn design point is a parameter change, not a new code path.

Fixture structure mirrors the reference corpus:
- hot conversations (skew/salting tests) — analog of the salted
  sha256_random keying, reference src/bolts/tokenizer.py:102,119
- phishing keyword / URL / <form> injections — reference
  conf/keywords/*.example.yml + tests/test_phishing.py:108-137
- exact + near duplicate texts — dedup filters, tokenizer.py:176-196
- tool-invocation → tool-response pairing at a ts delta — the dialect
  time-band-join analog, src/modules/mails/dialects.py:94-139
- session bursts separated by gaps > gap-timeout; a seeded fraction of
  late (old-ts) rows — watermark fixtures
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

VOCAB = [
    "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf", "hotel",
    "india", "juliet", "kilo", "lima", "mike", "november", "oscar", "papa",
]

TOOLS = ["search", "browser", "code", "mail"]

# 8-turn session pattern; index = turn_idx % 8.
ROLE_PATTERN = ["user", "assistant", "tool", "assistant", "user", "assistant", "system", "user"]

DUP_TEXT = "please confirm your payment details at the portal"
FORM_SNIPPET = ' <form action="http://phish-portal.example/login"><input name="pw"></form>'

URL_DOMAINS = [
    "http://drive.google.com/drive/my-drive",        # whitelisted domain
    "https://evil-login.biz/verify?acct=1",
    "ftp://files.apache.org/dist/spark",             # whitelisted domain
    "http://secure-hampton.info/payment",
    "https://www.amazon.com/gp/cart",                # whitelisted domain
    "http://xn--90afavbplfx2a6a5b2a.xn--p1ai/idn",   # IDN fixture (tests/test_utils.py:340-362)
]

# Keyword configs — exact fixture values from conf/keywords/*.example.yml
# (FIXTURES.md §3) so golden phishing tests port directly.
TARGET_KEYS = {
    "Google": ["gmail", "google drive"],
    "Amazon": ["amazon"],
    "Test": ["payment", "hampton", "global"],
}
SUBJECT_KEYS = ["conferma", "bonifico", "Fattura", "123456", "urgent"]
WHITELIST_DOMAINS = ["google.com", "amazon.com", "facebook.com", "apache.org"]

SESSION_TURNS = 8            # turns per session burst
TURN_GAP_S = 30              # seconds between turns in a burst
SESSION_GAP_S = 2 * 3600     # gap between bursts (>> gap timeout)
BASE_TS = "2024-03-01 00:00:00"


def _hexdigit(col, i: int):
    """i-th hex digit of md5(col) as an int in [0, 15] — the engine's
    deterministic pseudo-random source."""
    return F.conv(F.substring(F.md5(col), i + 1, 1), 16, 10).cast("int")


def generate_turns(
    spark: SparkSession,
    n_convs: int = 50,
    turns_per_conv: int = 24,
    n_hot: int = 2,
    hot_factor: int = 40,
    seed: int = 42,
) -> DataFrame:
    """Deterministic transcript table with TURNS_SCHEMA columns."""
    convs = spark.range(n_convs).select(
        F.col("id").alias("conv_num"),
        F.format_string("conv_%06d", F.col("id")).alias("conv_id"),
        F.when(F.col("id") < n_hot, F.lit(turns_per_conv * hot_factor))
        .otherwise(
            turns_per_conv
            + F.pmod(F.conv(F.substring(F.md5(F.concat(F.lit(seed), F.col("id"))), 1, 4), 16, 10).cast("long"), F.lit(8))
        )
        .cast("int")
        .alias("n_turns"),
    )

    df = convs.select(
        "conv_num",
        "conv_id",
        F.explode(F.sequence(F.lit(0), F.col("n_turns") - 1)).alias("turn_idx"),
    )

    key = F.concat(F.lit(f"s{seed}:"), F.col("conv_id"), F.lit(":"), F.col("turn_idx"))
    d = [_hexdigit(key, i) for i in range(12)]

    role = F.element_at(
        F.array(*[F.lit(r) for r in ROLE_PATTERN]), F.pmod(F.col("turn_idx"), 8) + 1
    )

    # Tool: set on the invocation turn (pattern slot 1, role=assistant) and
    # its response turn (slot 2, role=tool); same tool name on both so the
    # tool-call band join has an equality key besides conv_id.
    tool_name = F.element_at(
        F.array(*[F.lit(t) for t in TOOLS]),
        F.pmod(F.col("conv_num") + F.floor(F.col("turn_idx") / 8), 4).cast("int") + 1,
    )
    tool = F.when(F.pmod(F.col("turn_idx"), 8).isin(1, 2), tool_name)

    base_words = F.concat_ws(
        " ",
        *[F.element_at(F.array(*[F.lit(w) for w in VOCAB]), d[i] + 1) for i in range(8)],
    )

    rowmod = lambda m: F.pmod(F.col("conv_num") * 131 + F.col("turn_idx") * 7 + 3, m)  # noqa: E731

    text = F.when(rowmod(23) == 0, F.lit(DUP_TEXT)).otherwise(
        F.concat(
            base_words,
            F.when(rowmod(13) == 0, F.lit(" payment hampton global invoice")).otherwise(F.lit("")),
            F.when(rowmod(17) == 0, F.lit(" check your gmail and google drive now")).otherwise(F.lit("")),
            F.when(
                rowmod(7) == 0,
                F.concat(F.lit(" see "), F.element_at(F.array(*[F.lit(u) for u in URL_DOMAINS]), d[8] % 6 + 1)),
            ).otherwise(F.lit("")),
            F.when(rowmod(29) == 0, F.lit(FORM_SNIPPET)).otherwise(F.lit("")),
            F.when(rowmod(19) == 0, F.lit(" urgent: bonifico 123456")).otherwise(F.lit("")),
            F.when(rowmod(31) == 0, F.lit(" " + DUP_TEXT + " kindly")).otherwise(F.lit("")),
        )
    )

    # Monotone per-conv timestamps: 30s per turn, 2h gap between 8-turn
    # sessions; conv start staggered by a conv-level hash digit; a 1/41
    # fraction shifted 3h into the past (late-data fixture — old event
    # time, late arrival).
    conv_stagger = _hexdigit(F.concat(F.lit(f"s{seed}:"), F.col("conv_id")), 9)
    offset_s = (
        F.col("turn_idx") * TURN_GAP_S
        + F.floor(F.col("turn_idx") / SESSION_TURNS) * SESSION_GAP_S
        + (conv_stagger * 60)
    )
    ts = F.to_timestamp(F.lit(BASE_TS)) + F.make_interval(secs=offset_s.cast("double"))
    ts = F.when(rowmod(41) == 0, ts - F.expr("INTERVAL 3 HOURS")).otherwise(ts)

    return df.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        role.alias("role"),
        text.alias("text"),
        tool.alias("tool"),
        ts.alias("ts"),
    )


def write_turns_parquet(
    spark: SparkSession, path: str, n_convs: int = 200, turns_per_conv: int = 24, **kw
) -> str:
    """Materialize a deterministic turns table (bench/stream input)."""
    generate_turns(spark, n_convs=n_convs, turns_per_conv=turns_per_conv, **kw).write.mode(
        "overwrite"
    ).parquet(path)
    return path
