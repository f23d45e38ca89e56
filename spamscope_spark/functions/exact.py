"""Cross-engine-exact rounding of integer ratios.

`round(p / q, 6)` on a DOUBLE is AMBIGUOUS at half boundaries: Spark
rounds the shortest decimal repr (Double.toString + BigDecimal HALF_UP)
while DuckDB rounds the exact binary value, so a ratio like
2094/32000 — shortest repr 0.0654375, true binary 0.06543749999... —
rounds to 0.065438 on Spark and 0.065437 on DuckDB. Any output column
that rounds a ratio of integers with a small denominator can hit this
(first seen: q_hash_classifier at sf0.001).

The fix: round the RATIONAL, not the double. For non-negative integer
p and positive integer q,

    round_half_up(p/q, 6) = floor((2*p*10^6 + q) / (2*q)) / 10^6

is exact integer arithmetic on both engines; the final /10^6 is one
IEEE division of the same exact integer on both sides, hence
bit-identical. Non-boundary rows keep the exact same value the old
round() produced (the two differ only within ~1e-16 of a boundary),
so already-green hashes are unchanged.

Spark-side floor(double-division) is safe here: the quotient's
fractional part is a multiple of 1/(2q), so it can only approach 1 to
within 1/(2q) — a misrounding across the floor needs q >= ~5e9, far
beyond any ratio this engine rounds.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

_M = 1_000_000
_BIGINT_MAX = 2**63 - 1


def round_ratio(p: Column, q: Column, digits: int = 6) -> Column:
    """round(p/q, digits) as DOUBLE, computed exactly from the
    rational. p >= 0, q > 0 integers (cast happens here); NULL in,
    NULL out.

    The scaled numerator 2*p*10^digits + q must fit BIGINT. DuckDB's
    twin raises when it does not, where non-ANSI Spark would wrap
    silently; so this raises too, checked exactly in DECIMAL(38,0)."""
    m = 10 ** digits
    p64 = p.cast("bigint")
    q64 = q.cast("bigint")
    d38 = "decimal(38,0)"
    overflow = p64.cast(d38) * F.lit(2 * m).cast(d38) + q64.cast(d38) > _BIGINT_MAX
    # integral `div`, not `/`: a DOUBLE quotient is inexact once the
    # numerator passes 2^53, long before the overflow bound
    scaled = F.call_function("div", 2 * p64 * m + q64, 2 * q64)
    error = F.raise_error(F.lit(f"round_ratio: 2*p*10^{digits} + q overflows BIGINT"))
    return F.when(overflow, error).otherwise(scaled.cast("double") / F.lit(float(m)))


def sql_round_ratio(p: str, q: str, digits: int = 6) -> str:
    """DuckDB twin — integer // is an exact floor."""
    m = 10 ** digits
    return (
        f"(CAST((2 * CAST({p} AS BIGINT) * {m} + CAST({q} AS BIGINT))"
        f" // (2 * CAST({q} AS BIGINT)) AS DOUBLE) / {m})"
    )


def round6_ratio(p: Column, q: Column) -> Column:
    return round_ratio(p, q, 6)


def sql_round6_ratio(p: str, q: str) -> str:
    return sql_round_ratio(p, q, 6)


def centi_sum(value: Column) -> Column:
    """Exact integer sum of an exactly-2-decimal DOUBLE column in
    centi-units — the order-independent form of SUM(value): float
    summation order differs between engines (and between runs of the
    same engine), which round() then amplifies into a visible hash
    mismatch exactly at half boundaries. round(value*100) recovers the
    exact integer on both engines (the product lands within ~1e-10 of
    it, never near .5), and integer SUM is commutative-exact."""
    return F.sum(F.round(value * 100).cast("bigint"))


def sql_centi_sum(value_expr: str) -> str:
    return f"SUM(CAST(round({value_expr} * 100) AS BIGINT))"

def fixed_sum(value: Column, digits: int = 2) -> Column:
    """Exact-decimal SUM as a DOUBLE: sum the column as 10^digits-unit
    integers (commutative-exact — no summation-order dependence, no
    accumulated float error at any row count), then one IEEE division
    of the exact integer back to value units. Replaces
    round(SUM(x), digits), whose float accumulation error exceeds the
    half-unit guard once row counts reach ~1e10 AND whose round() is
    engine-ambiguous; this form is bit-identical cross-engine and
    scale-independent. Requires x exactly `digits`-decimal (money
    columns); integer magnitude bound: |sum| * 10^digits < 2^63."""
    m = 10 ** digits
    return F.sum(F.round(value * m).cast("bigint")).cast("double") / F.lit(
        float(m)
    )


def sql_fixed_sum(value_expr: str, digits: int = 2) -> str:
    m = 10 ** digits
    return (
        f"(CAST(SUM(CAST(round({value_expr} * {m}) AS BIGINT)) AS DOUBLE)"
        f" / {float(m)})"
    )


def floor_units(value: Column, digits: int = 6) -> Column:
    """Micro/deci-unit BIGINT quantization floor(x * 10^digits) — the
    doctrine form for scores that are transcendental (ln/exp) or
    otherwise not an exact small-denominator rational. Unlike
    round(x, digits), floor of the SAME double is deterministic on
    every engine (no shortest-repr-vs-exact-binary half-boundary
    split); use it whenever both engines compute `value` from an
    identical IEEE expression tree, and for irrational-valued scores
    where the grid-landing probability is measure-zero."""
    return F.floor(value * F.lit(float(10 ** digits))).cast("bigint")


def sql_floor_units(value_expr: str, digits: int = 6) -> str:
    return (
        f"CAST(floor(({value_expr}) * {float(10 ** digits)}) AS BIGINT)"
    )

def half_up_units(value: Column, digits: int = 6) -> Column:
    """Nearest-integer 10^digits-unit BIGINT quantization via
    floor(x * 10^digits + 0.5) — pure IEEE mult/add/floor, so unlike
    round(x, digits) both engines agree given the same double. Prefer
    this over floor_units when the score's TRUE value can land exactly
    ON the quantization grid (cosine == 1.0 for planted copies,
    variance of short-decimal data, interpolated percentiles of money
    columns): there the two engines' doubles may differ by ulps AROUND
    the grid point, which flips floor_units but sits a full half-unit
    from this form's boundary. Conversely floor_units is the choice
    when the double is bit-identical cross-engine (mirrored expression
    trees) or the value class is irrational."""
    return F.floor(value * F.lit(float(10 ** digits)) + F.lit(0.5)).cast(
        "bigint"
    )


def sql_half_up_units(value_expr: str, digits: int = 6) -> str:
    return (
        f"CAST(floor(({value_expr}) * {float(10 ** digits)} + 0.5) AS BIGINT)"
    )
