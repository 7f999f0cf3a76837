"""functions.quantile: Spark ``percentile`` re-derived to equal
DuckDB's ``quantile_cont`` bit for bit, also where the two order
statistics around the interpolation point tie."""

from __future__ import annotations

import math
import random

from pyspark.sql import functions as F

from etl_challenge_localiza_spark.functions.quantile import quantile_cont


def _duckdb_formula(vals, p):
    s = sorted(vals)
    rn = (len(s) - 1) * p
    lo, hi = math.floor(rn), math.ceil(rn)
    if lo == hi:
        return s[lo]
    return s[lo] * (hi - rn) + s[hi] * (rn - lo)


def test_tied_order_statistics_use_the_interpolation_formula(spark):
    df = spark.createDataFrame([(5.55,)] * 3, "v double")
    # Spark's percentile returns the tied key 5.55; DuckDB 1.0.0 returns
    # 5.55 * 0.8 + 5.55 * 0.2
    assert quantile_cont(df, "v", [0.1]).first()["q"] == [5.550000000000001]


def test_matches_formula_on_tie_heavy_groups(spark):
    rng = random.Random(7)
    ps = [0.1, 0.3, 0.5, 0.7, 0.9, 0.99]
    rows = [
        (k, rng.choice([5.55, 25.02, 1 / 3, 7.77, rng.random() * 100]))
        for k in range(12)
        for _ in range(rng.randint(1, 40))
    ]
    got = {
        r["k"]: r["q"]
        for r in quantile_cont(
            spark.createDataFrame(rows, "k int, v double"), "v", ps, ["k"]
        ).collect()
    }
    for k, q in got.items():
        vals = [v for kk, v in rows if kk == k]
        assert q == [_duckdb_formula(vals, p) for p in ps]


def test_null_keys_values_and_extra_aggregates(spark):
    df = spark.createDataFrame(
        [(None, 1.0), (None, 3.0), ("b", None), ("b", None)], "k string, v double"
    )
    got = {
        r["k"]: (r["q"], r["n"])
        for r in quantile_cont(
            df, "v", [0.1], ["k"], F.count(F.lit(1)).alias("n")
        ).collect()
    }
    assert got == {None: ([_duckdb_formula([1.0, 3.0], 0.1)], 2), "b": (None, 2)}
    assert quantile_cont(df.limit(0), "v", [0.5]).first()["q"] is None
