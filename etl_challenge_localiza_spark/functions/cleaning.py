"""Column-level string cleaning expressions (SURVEY.md §2.2 P1-P4).

Reference semantics (flows/pipeline.py:118-128): column names are
snake_cased; string columns are cast→trimmed and the sentinel tokens
"" / "nan" / "None" (plus "0" for location_region) map to NULL;
transaction_type is additionally lowercased.

Note on the pandas astype(str) round-trip (SURVEY.md §7.4.1): pandas
casts real NaN to the literal "nan" and then maps it back to None, so
the net semantics are "null stays null; sentinel strings become null".
We express that directly — no cast round-trip — which is also the only
sane behavior at scale (a cast round-trip would defeat codegen'd
null-propagation).
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Sentinel strings the reference nulls out (flows/pipeline.py:121-127).
NULL_TOKENS = ("", "nan", "None")


def normalize_name(name: str) -> str:
    """P1 on one column name: ``strip().lower().replace(" ", "_")``
    (flows/pipeline.py:118)."""
    return name.strip().lower().replace(" ", "_")


def normalize_column_names(df: DataFrame) -> DataFrame:
    """P1 on every column name. Pure metadata — no job runs."""
    return df.toDF(*[normalize_name(c) for c in df.columns])


def clean_string(
    col: Column | str,
    lowercase: bool = False,
    extra_null_tokens: Iterable[str] = (),
) -> Column:
    """P2/P3/P4: cast→trim(→lower), then sentinel-token → NULL.

    One whole-stage-codegen'd expression per column; NULL input stays
    NULL through trim/lower (null propagation), matching the
    reference's net behavior.
    """
    c = F.trim(F.col(col).cast("string") if isinstance(col, str) else col.cast("string"))
    if lowercase:
        # Reference order is strip → lower → replace
        # (flows/pipeline.py:123), so token matching happens on the
        # lowercased value.
        c = F.lower(c)
    tokens = list(NULL_TOKENS) + list(extra_null_tokens)
    return F.when(c.isin(tokens), F.lit(None).cast("string")).otherwise(c)
