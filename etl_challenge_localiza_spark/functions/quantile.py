"""Exact interpolated quantiles that equal DuckDB's ``quantile_cont``
bit for bit.

Both engines place quantile ``p`` of ``n`` non-null values at
``rn = (n - 1) * p`` and interpolate between the order statistics
``lo`` (index ⌊rn⌋) and ``hi`` (index ⌈rn⌉) as
``lo * (⌈rn⌉ - rn) + hi * (rn - ⌊rn⌋)``. They differ in one case: when
``rn`` has a fraction and ``lo == hi``, Spark's ``percentile`` returns
the tied key while DuckDB still evaluates the formula, which can land
one ulp away (5.55 at rn = 497.8 gives 5.549999999999999). Bin edges
and threshold filters built on a quantile then put the rows equal to
that key on different sides.

:func:`quantile_cont` takes Spark's ``percentile`` and re-applies the
formula where the order statistics tie. The tie test is exact: with
``lt``/``le`` the counts of values below / at-or-below Spark's result
``r``, the values equal to ``r`` occupy indices ``[lt, le)``, and
``lo == hi`` exactly when both ⌊rn⌋ and ⌈rn⌉ fall in that range (a
tie makes Spark return the key itself). The counts cost one more scan
of the column, joined to the per-group ``percentile`` row by broadcast.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def quantile_cont(
    df: DataFrame, col: str, ps, by=(), *aggs: Column
) -> DataFrame:
    """(by..., q: array<double>, aggs...) with ``q[i]`` equal to
    DuckDB's ``quantile_cont(col, ps[i])`` per group of ``by`` (one
    row for the whole frame when ``by`` is empty; NULL ``q`` when the
    frame is empty). ``aggs`` are extra aggregates over each group's
    rows, NULL values of ``col`` included."""
    by = list(by)
    ps = [float(p) for p in ps]
    est = df.groupBy(*by).agg(
        F.expr(f"percentile(`{col}`, array({', '.join(map(repr, ps))}))").alias("__r"),
        F.count(col).alias("__n"),
    )
    if by:
        keys = est.select(
            *[F.col(k).alias(f"__k{i}") for i, k in enumerate(by)], "__r", "__n"
        )
        cond = [df[k].eqNullSafe(keys[f"__k{i}"]) for i, k in enumerate(by)]
        rows = df.join(F.broadcast(keys), cond).drop(*keys.columns[: len(by)])
    else:
        rows = df.crossJoin(F.broadcast(est))
    v, r = F.col(col), F.col("__r")
    counts = rows.groupBy(*by).agg(
        F.any_value("__r").alias("__r"),
        F.any_value("__n").alias("__n"),
        *[F.count_if(v < r[i]).alias(f"__lt{i}") for i in range(len(ps))],
        *[F.count_if(v <= r[i]).alias(f"__le{i}") for i in range(len(ps))],
        *aggs,
    )

    def exact(i: int, p: float) -> Column:
        rn = (F.col("__n") - 1) * F.lit(p)
        lo, hi = F.floor(rn), F.ceil(rn)
        tied = (lo != hi) & (F.col(f"__lt{i}") <= lo) & (F.col(f"__le{i}") > hi)
        return F.when(tied, r[i] * (hi - rn) + r[i] * (rn - lo)).otherwise(r[i])

    q = F.when(r.isNotNull(), F.array(*[exact(i, p) for i, p in enumerate(ps)]))
    extra = [c for c in counts.columns[len(by):] if not c.startswith("__")]
    return counts.select(*by, q.alias("q"), *extra)
