"""Cross-engine property tests of the functions/exact.py doctrine —
the primitives every query output now routes through. Each test ships
the SAME adversarially-constructed corpus through the Spark column
form AND the DuckDB SQL twin and requires cell-exact agreement,
including the half-boundary cases that broke round(x, n):

- round_ratio vs an exact Fraction round-half-up oracle, with pairs
  CONSTRUCTED to land exactly on .5 boundaries (the class where
  Spark's shortest-repr round and DuckDB's exact-binary round split);
- fixed_sum invariance under partitioning/order (commutative-exact),
  against a Decimal oracle;
- half_up_units / floor_units cross-engine equality on grid-landing
  and irrational values.
"""

from __future__ import annotations

import random
from decimal import Decimal
from fractions import Fraction

import duckdb
import pyspark.sql.functions as F
import pytest

from spamscope_spark.functions import exact


def _half_up_fraction(p: int, q: int, digits: int) -> float:
    m = 10**digits
    scaled = (Fraction(p, q) * m + Fraction(1, 2)).__floor__()
    return float(Fraction(scaled, m))


class TestRoundRatioCrossEngine:
    def _pairs(self):
        rng = random.Random(5)
        pairs = [(rng.randrange(0, 10**12), rng.randrange(1, 10**6))
                 for _ in range(400)]
        # constructed exact half-boundaries: p/q = (k + 1/2)/10^d
        # -> p = (2k+1)*m, q = 2*m*10^d for random m
        for d in (2, 4, 6):
            for _ in range(100):
                k = rng.randrange(0, 10**6)
                m = rng.randrange(1, 50)
                pairs.append(((2 * k + 1) * m, 2 * m * 10**d))
        # the documented r3 killer: 2094/32000 (shortest repr
        # 0.0654375, true binary just below the boundary)
        pairs.append((2094, 32000))
        return pairs

    def test_matches_fraction_oracle_and_duckdb(self, spark):
        pairs = self._pairs()
        df = spark.createDataFrame(pairs, "p long, q long")
        got = {
            (r["p"], r["q"]): r["v"]
            for r in df.select(
                "p", "q", exact.round6_ratio(F.col("p"), F.col("q")).alias("v")
            ).collect()
        }
        duck = duckdb.connect()
        duck.execute("CREATE TABLE t(p BIGINT, q BIGINT)")
        duck.executemany("INSERT INTO t VALUES (?, ?)", pairs)
        dres = duck.execute(
            f"SELECT p, q, {exact.sql_round6_ratio('p', 'q')} FROM t"
        ).fetchall()
        for p, q, v in dres:
            assert got[(p, q)] == v, (p, q)
            assert got[(p, q)] == _half_up_fraction(p, q, 6), (p, q)

    def test_boundary_differs_from_naive_round(self, spark):
        # the exact class round(x, 6) gets wrong on at least one
        # engine: the true value IS *.5e-6, so half-up must go UP —
        # Python's float round() (banker's + binary noise) disagrees
        # on half the constructed cases, proving these pairs actually
        # sit on the boundary
        cases = [((2 * k + 1), 2 * 10**6) for k in range(50)]
        df = spark.createDataFrame(cases, "p long, q long")
        for r in df.select(
            "p", "q", exact.round6_ratio(F.col("p"), F.col("q")).alias("v")
        ).collect():
            assert r["v"] == _half_up_fraction(r["p"], r["q"], 6)


class TestFixedSumExactness:
    def test_order_and_partitioning_invariant(self, spark):
        rng = random.Random(11)
        vals = [round(rng.uniform(-1000, 100000), 2) for _ in range(5000)]
        truth = float(sum(Decimal(str(v)) for v in vals))
        rows = [(v,) for v in vals]
        for parts in (1, 7, 32):
            df = spark.createDataFrame(rows, "v double").repartition(parts)
            got = df.agg(exact.fixed_sum(F.col("v"), 2).alias("s")).first()["s"]
            assert got == truth, parts
        duck = duckdb.connect()
        duck.execute("CREATE TABLE t(v DOUBLE)")
        duck.executemany("INSERT INTO t VALUES (?)", rows)
        assert duck.execute(
            f"SELECT {exact.sql_fixed_sum('v', 2)} FROM t"
        ).fetchone()[0] == truth

    def test_float_sum_would_drift(self):
        # why the doctrine exists: plain float accumulation of the
        # same 2-decimal values is ORDER-DEPENDENT — the exact form
        # cannot be (integer addition commutes)
        rng = random.Random(12)
        vals = [round(rng.uniform(-1000, 100000), 2) for _ in range(5000)]
        a = sum(vals)
        b = sum(sorted(vals))
        c = sum(sorted(vals, reverse=True))
        assert len({a, b, c}) > 1  # float sums disagree with each other


class TestUnitQuantizersCrossEngine:
    def test_half_up_and_floor_agree_with_duckdb(self, spark):
        rng = random.Random(7)
        # grid-landing values (exact multiples of 1e-6), near-grid
        # values, and irrationals
        vals = (
            [k / 1e6 for k in rng.sample(range(1, 10**7), 200)]
            + [1.0, 0.0, 2.0, 0.95]
            + [rng.uniform(0, 10) for _ in range(200)]
        )
        rows = [(v,) for v in vals]
        df = spark.createDataFrame(rows, "v double")
        got = {
            r["v"]: (r["h"], r["f"])
            for r in df.select(
                "v",
                exact.half_up_units(F.col("v"), 6).alias("h"),
                exact.floor_units(F.col("v"), 6).alias("f"),
            ).collect()
        }
        duck = duckdb.connect()
        duck.execute("CREATE TABLE t(v DOUBLE)")
        duck.executemany("INSERT INTO t VALUES (?)", rows)
        for v, h, f in duck.execute(
            f"SELECT v, {exact.sql_half_up_units('v', 6)},"
            f" {exact.sql_floor_units('v', 6)} FROM t"
        ).fetchall():
            assert got[v] == (h, f), v

    def test_half_up_tolerates_ulp_noise_on_grid(self, spark):
        # the cos == 1.0 planted-pair case: the two engines compute
        # 1.0 +/- 1ulp; half-up maps BOTH sides of the grid point to
        # 1e6, where floor_units splits them — the reason cosine
        # outputs use half_up (operators/similarity.py)
        import math

        lo = math.nextafter(1.0, 0.0)
        hi = math.nextafter(1.0, 2.0)
        df = spark.createDataFrame([(lo,), (1.0,), (hi,)], "v double")
        out = [
            (r["h"], r["f"])
            for r in df.select(
                exact.half_up_units(F.col("v"), 6).alias("h"),
                exact.floor_units(F.col("v"), 6).alias("f"),
            ).collect()
        ]
        assert [h for h, _ in out] == [1_000_000] * 3
        assert len({f for _, f in out}) > 1  # floor DOES split here


class TestRoundRatioOverflow:
    """2*p*10^digits + q must fit BIGINT: DuckDB's twin raises past
    that bound, and the Spark form must raise too, not wrap."""

    Q = 7

    def _bound(self, digits: int) -> int:
        # largest p with 2*p*10^digits + Q <= 2^63 - 1
        return (2**63 - 1 - self.Q) // (2 * 10**digits)

    @pytest.mark.parametrize("digits", [4, 6])
    def test_at_bound_matches_oracle_on_both_engines(self, spark, digits):
        p = self._bound(digits)
        df = spark.createDataFrame([(p, self.Q)], "p long, q long")
        got = df.select(
            exact.round_ratio(F.col("p"), F.col("q"), digits)
        ).first()[0]
        duck = duckdb.execute(
            f"SELECT {exact.sql_round_ratio(str(p), str(self.Q), digits)}"
        ).fetchone()[0]
        m = 10**digits
        assert got == duck == float((2 * p * m + self.Q) // (2 * self.Q)) / m

    @pytest.mark.parametrize("digits", [4, 6])
    def test_past_bound_raises_on_both_engines(self, spark, digits):
        p = self._bound(digits) + 1
        df = spark.createDataFrame([(p, self.Q)], "p long, q long")
        with pytest.raises(Exception, match="overflows BIGINT"):
            df.select(
                exact.round_ratio(F.col("p"), F.col("q"), digits)
            ).collect()
        with pytest.raises(duckdb.OutOfRangeException):
            duckdb.execute(
                f"SELECT {exact.sql_round_ratio(str(p), str(self.Q), digits)}"
            ).fetchone()

    def test_null_in_null_out(self, spark):
        df = spark.createDataFrame([(None, 3), (4, None)], "p long, q long")
        got = df.select(exact.round_ratio(F.col("p"), F.col("q"))).collect()
        assert [r[0] for r in got] == [None, None]
