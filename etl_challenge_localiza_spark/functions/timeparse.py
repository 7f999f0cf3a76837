"""Epoch-unit detection and timestamp parsing (SURVEY.md §2.2 P5-P9).

Reference (flows/pipeline.py:25-37,130-141):

- A timestamp column "looks numeric" when its dtype is numeric OR every
  non-null value matches ``^\\d+(\\.\\d+)?$``.
- For numeric columns the unit is chosen from ``median(abs(value))``:
  > 1e17 → ns, > 1e14 → us, > 1e11 → ms, else s (empty → s).
- Numeric path: to_datetime(value, unit, utc); string path:
  to_datetime(value, errors="coerce", utc).

Spark-first shape: the numeric-vs-string test and the unit are a
data-dependent decision, so they come from ONE aggregate over the
column (:func:`unit_probe`: the count of values failing the regex plus
the approximate median) followed by a single declarative cast — not a
UDF. The probe's two columns are plain aggregates, so a caller that
already scans the same rows (the pipeline's pre-gate DQ profile) can
carry them in that pass and hand the decision to
:func:`parse_timestamp_auto`, which then runs no job at all. At 100 TB
the probe reads only the one column (column pruning).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: epoch value → seconds divisor per unit.
EPOCH_DIVISORS = {"s": 1.0, "ms": 1e3, "us": 1e6, "ns": 1e9}

#: the reference's all-digits test (flows/pipeline.py:133).
NUMERIC_RE = r"^\d+(\.\d+)?$"

#: the route :func:`parse_timestamp_auto` takes for non-numeric columns;
#: the epoch route is named by its unit ("s", "ms", "us", "ns").
STRING_ROUTE = "string"

_NUMERIC_DTYPES = ("tinyint", "smallint", "int", "bigint", "float", "double")


def _numeric_by_dtype(dtype: str) -> bool | None:
    """P6 decided by the dtype alone; None when the values decide."""
    if dtype in _NUMERIC_DTYPES or dtype.startswith("decimal"):
        return True
    if dtype.startswith("timestamp") or dtype == "date":
        return False
    return None


def _median_abs(col: str) -> Column:
    """P5's median(abs(value)), as ``approx_percentile`` (see
    :func:`detect_timestamp_unit`)."""
    return F.expr(f"approx_percentile(abs(try_cast(`{col}` as double)), 0.5, 10000)")


def _unit_for_median(m: float | None) -> str:
    """P5 thresholds exactly 1e17/1e14/1e11 (strict >); no value → "s"."""
    if m is None:
        return "s"
    if m > 1e17:
        return "ns"
    if m > 1e14:
        return "us"
    if m > 1e11:
        return "ms"
    return "s"


def detect_timestamp_unit(df: DataFrame, col: str = "timestamp") -> str:
    """P5: median(abs(try_cast(col as double))) → unit thresholds
    exactly 1e17/1e14/1e11; empty/all-null → "s"
    (flows/pipeline.py:25-37).

    The median is ``approx_percentile`` (accuracy 10000 → rank error
    ≤ N/10000), not Spark's exact ``median``: exact percentile
    aggregation buffers every distinct value per partition and merges
    the maps — unbounded state over high-cardinality epoch columns,
    a driver/executor OOM at corpus scale (round-9 measurement: the
    exact median was most of a +36 s epoch-branch overhead on 10M
    rows). For UNIT DETECTION the approximation is behaviorally
    identical: the thresholds are three decades apart, so a ≤0.01%
    rank error changes the verdict only if the distribution straddles
    a decade boundary at its median — mixed-unit data on which no
    single unit is right anyway. Small inputs (< accuracy) are exact,
    so reference parity on the pytest fixtures is bit-for-bit."""
    return _unit_for_median(df.select(_median_abs(col).alias("m")).first()["m"])


def looks_numeric(df: DataFrame, col: str = "timestamp") -> bool:
    """P6: numeric dtype OR all non-null values match ^\\d+(\\.\\d+)?$
    (flows/pipeline.py:133).

    The regex check is a single filter+isEmpty job; Catalyst prunes to
    the one column and short-circuits on the first counterexample.
    """
    dtype = dict(df.dtypes).get(col)
    if dtype is None:
        return False
    by_dtype = _numeric_by_dtype(dtype)
    if by_dtype is not None:
        return by_dtype
    c = F.col(col)
    return df.filter(c.isNotNull() & ~c.cast("string").rlike(NUMERIC_RE)).isEmpty()


def unit_probe(col: str = "timestamp") -> list[Column]:
    """P5 + P6 as two aggregate columns over ``col``: ``ts_non_numeric``
    (non-null values failing :data:`NUMERIC_RE`; 0 ⇔ :func:`looks_numeric`
    for string columns) and ``ts_median_abs`` (the median
    :func:`detect_timestamp_unit` uses). Evaluate them in any aggregate
    or ``Observation`` over the rows that will be parsed, then pass
    :func:`unit_from_probe`'s route to :func:`parse_timestamp_auto`."""
    c = F.col(col)
    return [
        F.count(F.when(c.isNotNull() & ~c.cast("string").rlike(NUMERIC_RE), F.lit(1)))
        .alias("ts_non_numeric"),
        _median_abs(col).alias("ts_median_abs"),
    ]


def unit_from_probe(dtype: str, probe) -> str:
    """The parse route from :func:`unit_probe`'s values (a Row or dict):
    an epoch unit when the column looks numeric, else
    :data:`STRING_ROUTE`."""
    numeric = _numeric_by_dtype(dtype)
    if numeric is None:
        numeric = probe["ts_non_numeric"] == 0
    return _unit_for_median(probe["ts_median_abs"]) if numeric else STRING_ROUTE


def parse_epoch(col: Column | str, unit: str) -> Column:
    """P7: epoch number (possibly fractional) in ``unit`` → timestamp.

    Spark's timestamp resolution is microseconds, so we convert to an
    exact micros integer. Integer inputs (the common case — pandas
    ``to_numeric`` keeps all-integer columns as int64 too) take an
    exact long/decimal path: a double would silently lose sub-µs
    precision for ns epochs (2^53 < 1e18). Fractional inputs fall back
    to a rounded double path, mirroring pandas' float handling.
    """
    c = F.col(col) if isinstance(col, str) else col
    lng = c.try_cast("long")
    dbl = c.try_cast("double")
    if unit == "ns":
        # exact truncating ns→µs division: integer `div` truncates
        # toward zero, bit-identical to the previous decimal(38,0)
        # divide-then-cast across the full int64 domain (fuzz-checked)
        # and to DuckDB's read-time truncation of TIMESTAMP_NS — at a
        # fraction of the per-row cost (no 128-bit decimal temporary)
        int_path = F.call_function("div", lng, F.lit(1000))
        dbl_path = (dbl / F.lit(1000.0)).cast("long")
    else:
        mult = int(1e6 // EPOCH_DIVISORS[unit])  # s→1e6, ms→1e3, us→1
        int_path = lng * F.lit(mult)
        dbl_path = F.round(dbl * F.lit(float(mult))).cast("long")
    micros = F.when(lng.isNotNull(), int_path).otherwise(dbl_path)
    # Clamp to the Python/pandas-representable window (years 1..9999):
    # pandas raises OutOfBoundsDatetime on such epochs (the reference
    # would crash, flows/pipeline.py:137 passes no errors=); we extend
    # the coerce-to-null policy instead so one absurd cell can't kill a
    # 100 TB batch.
    lo, hi = -62_135_596_800_000_000, 253_402_300_800_000_000
    micros = F.when(micros.between(lo, hi - 1), micros)
    return F.timestamp_micros(micros)


def parse_timestamp_string(col: Column | str) -> Column:
    """P8: datetime-string path — null on failure (errors="coerce",
    flows/pipeline.py:138-139). try_to_timestamp keeps coerce semantics
    even under ANSI mode. Spark parses bare huge years ('10000') that
    pandas coerces to NaT — the same years-1..9999 clamp as the epoch
    path keeps both the parity and collectability."""
    c = F.col(col) if isinstance(col, str) else col
    ts = F.try_to_timestamp(c.cast("string"))
    lo, hi = -62_135_596_800_000_000, 253_402_300_800_000_000
    return F.when(F.unix_micros(ts).between(lo, hi - 1), ts)


def parse_timestamp_auto(
    df: DataFrame, col: str = "timestamp", route: str | None = None
) -> DataFrame:
    """P5-P9 composed: detect numeric-vs-string, detect unit, parse.

    ``route`` is :func:`unit_from_probe`'s decision when the caller has
    already aggregated :func:`unit_probe` over these rows; None runs
    the probe here as ONE aggregate job (none for dtypes that decide
    alone: timestamps, dates).

    Missing column → all-NULL timestamp column (P9,
    flows/pipeline.py:140-141). Returns a new DataFrame with ``col``
    replaced by a UTC timestamp column.
    """
    if col not in df.columns:
        return df.withColumn(col, F.lit(None).cast("timestamp"))
    dtype = dict(df.dtypes)[col]
    if dtype.startswith("timestamp"):
        return df  # already parsed
    if route is None:
        route = (
            STRING_ROUTE
            if _numeric_by_dtype(dtype) is False
            else unit_from_probe(dtype, df.agg(*unit_probe(col)).first())
        )
    if route == STRING_ROUTE:
        return df.withColumn(col, parse_timestamp_string(F.col(col)))
    return df.withColumn(col, parse_epoch(F.col(col), route))
