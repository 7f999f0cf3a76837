"""The clean/standardize pipeline (SURVEY.md §2.2 P1-P12 + §2.3 D1).

Reference: ``clean_and_standardize`` (flows/pipeline.py:112-160) —
eager, op-by-op pandas mutation. Spark-first shape: ONE lazy
transformation chain; Catalyst fuses every per-column expression into a
single whole-stage-codegen pass over the scan, so the entire clean
stage is one read of the data regardless of how many rules it applies.
Only the epoch-unit detection (data-dependent, see functions.timeparse)
needs an aggregate over the one timestamp column: a caller that already
scanned the raw rows passes its route in, otherwise it runs here as one
tiny job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.cleaning import clean_string, normalize_column_names
from ..functions.timeparse import parse_timestamp_auto

#: D1 dedup key (flows/pipeline.py:154).
DEDUP_KEYS = ["timestamp", "receiving_address", "transaction_type", "amount"]


def numeric_coerce(col: str) -> F.Column:
    """P10: ``pd.to_numeric(errors="coerce")`` equivalent.

    pandas conflates NaN with null (``isna``/``dropna`` treat them the
    same), while Spark keeps NaN as a real double — so the literal
    string "nan" must coerce to NULL here, not NaN, for the not-null
    drop (flows/pipeline.py:151) to behave identically.
    """
    c = F.col(col).try_cast("double")
    return F.nanvl(c, F.lit(None).cast("double"))


def clean_transactions(
    df: DataFrame,
    deterministic_order_col: str | None = None,
    timestamp_route: str | None = None,
) -> DataFrame:
    """Full clean/standardize pass (flows/pipeline.py:112-160).

    Steps (each cites the reference line it reproduces):

    1.  snake_case column names (118)
    2.  receiving_address: trim + sentinel→NULL (120-121)
    3.  transaction_type:  trim + lower + sentinel→NULL (122-123)
    4.  location_region:   trim + sentinel∪{"0"}→NULL (124-128)
    5.  timestamp: numeric→epoch-unit-detected parse, else string
        parse, both coerce-to-NULL; missing column → NULL (130-141)
    6.  amount / risk_score: numeric coercion, NULL on bad (143-148)
    7.  drop rows with NULL timestamp/transaction_type/amount (151)
    8.  keep amount >= 0 (152)
    9.  dedup on (timestamp, receiving_address, transaction_type,
        amount) ∩ existing columns (154-156)

    ``deterministic_order_col``: the reference's ``keep="first"`` is
    file-order-dependent; pass a column (e.g. a line id) to get a
    deterministic keep-lowest-ordercol dedup via a window. Default uses
    ``dropDuplicates`` (any one row per key — the reference's effective
    guarantee under parallelism, and shuffle-cheaper: map-side partial
    dedup before the exchange).

    ``timestamp_route``: step 5's decision, from
    ``functions.timeparse.unit_from_probe`` over these rows' raw
    timestamp column; None probes here (see ``parse_timestamp_auto``).
    """
    df = normalize_column_names(df)

    if "receiving_address" in df.columns:
        df = df.withColumn("receiving_address", clean_string("receiving_address"))
    if "transaction_type" in df.columns:
        df = df.withColumn("transaction_type", clean_string("transaction_type", lowercase=True))
    if "location_region" in df.columns:
        df = df.withColumn(
            "location_region", clean_string("location_region", extra_null_tokens=("0",))
        )

    df = parse_timestamp_auto(df, "timestamp", timestamp_route)

    if "amount" in df.columns:
        df = df.withColumn("amount", numeric_coerce("amount"))
    else:
        df = df.withColumn("amount", F.lit(None).cast("double"))
    if "risk_score" in df.columns:
        df = df.withColumn("risk_score", numeric_coerce("risk_score"))

    df = df.na.drop(subset=["timestamp", "transaction_type", "amount"])
    df = df.filter(F.col("amount") >= 0)

    keys = [c for c in DEDUP_KEYS if c in df.columns]
    if keys:
        df = dedup_exact(df, keys, order_col=deterministic_order_col)
    return df


def dedup_exact(
    df: DataFrame, keys: list[str], order_col: str | None = None
) -> DataFrame:
    """D1 (generalized): exact keyed dedup.

    - ``order_col=None``: ``dropDuplicates(keys)`` — Spark plans this
      as a partial (map-side) then final hash aggregate on the keys, so
      the shuffle carries at most one row per key per input partition.
      Preferred at scale.
    - ``order_col=c``: deterministic keep-first by ``c`` ascending
      (window + row_number). Costs a full shuffle + per-key sort; use
      when reproducibility across runs matters more than throughput.
    """
    if order_col is None:
        return df.dropDuplicates(keys)
    w = Window.partitionBy(*keys).orderBy(F.col(order_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
