"""Driver-local model tables as SQL VALUES (LocalRelation).

``spark.createDataFrame(rows, schema)`` on a plain Python list always
routes through an RDD of pickled rows: the data becomes
defaultParallelism RDD partitions and every consumption launches that
many PYTHON WORKER tasks — measured 32 tasks / up to ~1.7 s of cold
worker spawn per tiny codebook table in the embedding lanes
(optimization r14, second segment). Rendering the same rows as a SQL
``VALUES`` literal builds a LocalRelation instead: zero jobs, zero
Python workers, and broadcast exchanges read the rows directly.

Only bounded MODEL state belongs here (centroid codebooks, projection
tables, id lists — the k×d collect()-scale frames the operators
already hold on the driver); anything data-sized keeps createDataFrame.
Values render exactly: ints as integer literals, floats through
``repr`` round-trip (cast from string — a bare SQL ``0.1`` parses as
DECIMAL), arrays recursively. Unsupported value/type shapes fall back
to createDataFrame.

The iterative operators' small-input shortcut (connected components,
PageRank, k-means) also lives here: :func:`local_rows` collects a frame
that fits ``LOCAL_BUDGET_BYTES``; the operator solves it on the driver
and ships the result back through :func:`values_table`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType

_INT_TYPES = {"tinyint", "smallint", "int", "integer", "bigint", "long"}

#: Driver memory one small-input shortcut may hold: row count × fixed
#: row width of the collected input. A driver-memory bound, not a
#: machine-width tune — the same value is right on a laptop and on a
#: 1000-node cluster, because past it the operator's distributed loop
#: (identical results) takes over.
LOCAL_BUDGET_BYTES = 8 << 20

#: Rows past which a VALUES literal (parsed SQL text) gives way to
#: createDataFrame, and the rows per createDataFrame slice.
VALUES_MAX_ROWS = 50_000

#: Budget width of one edge: two integral ids of 8 B each.
EDGE_BYTES = 16


def edge_bytes(edges: DataFrame) -> Column | None:
    """``EDGE_BYTES`` when the edge list's two id columns (its first
    two) are integral; None otherwise — string ids have no fixed
    width, so such an edge list always takes the distributed loop."""
    a, b = edges.schema.fields[:2]
    if isinstance(a.dataType, IntegralType) and isinstance(b.dataType, IntegralType):
        return F.lit(EDGE_BYTES)
    return None


def local_rows(df: DataFrame, row_bytes: Column | None) -> tuple[int, list | None]:
    """Size ``df`` with ONE aggregate — its row count and the largest
    ``row_bytes`` (a per-row byte width; None when rows have no fixed
    width) — and collect it when count × width fits
    ``LOCAL_BUDGET_BYTES``. Returns (row count, rows or None)."""
    width = F.lit(0) if row_bytes is None else row_bytes
    probe = df.agg(F.count(F.lit(1)).alias("n"), F.max(width).alias("w")).first()
    n, w = probe["n"], probe["w"] or 0
    if row_bytes is None or n * w > LOCAL_BUDGET_BYTES:
        return n, None
    return n, df.collect()


def _split_schema(schema: str) -> list[tuple[str, str]]:
    """Split a DDL string into (name, type) pairs at top-level commas."""
    parts, depth, cur = [], 0, []
    for ch in schema:
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur))
    out = []
    for p in parts:
        p = p.strip()
        name, typ = p.split(None, 1)
        out.append((name, typ.strip().lower()))
    return out


def _render(v, typ: str) -> str:
    if v is None:
        return f"cast(null as {typ})"
    if typ.startswith("array<") and typ.endswith(">"):
        inner = typ[6:-1].strip()
        if not len(v):
            # a bare `array()` types as array<string>; in a VALUES list
            # whose other rows (or declared schema) are array<bigint>/
            # array<double>, analysis would fail OUTSIDE the caller's
            # try block (spark.sql), defeating the documented
            # createDataFrame fallback — make the element type explicit
            # (ADVICE r14)
            return f"cast(array() as {typ})"
        return "array(" + ", ".join(_render(x, inner) for x in v) + ")"
    if typ in ("double", "float"):
        import math

        f = float(v)
        if not math.isfinite(f):
            # 'inf'/'nan' SQL-cast behavior is locale-ish ('inf' casts
            # to NULL); refuse so the caller falls back to
            # createDataFrame, which ships the IEEE value faithfully
            raise ValueError("values_table cannot render non-finite floats")
        return f"cast('{f!r}' as {typ})"
    if typ in _INT_TYPES:
        return f"cast({int(v)} as {typ})"
    if typ == "boolean":
        return "true" if bool(v) else "false"
    raise ValueError(f"values_table cannot render type {typ!r}")


def values_table(spark: SparkSession, rows, schema: str) -> DataFrame:
    """A DataFrame over ``rows`` built as a SQL VALUES LocalRelation.

    ``rows`` is a list of tuples (or scalars for one-column schemas);
    ``schema`` is the same DDL string createDataFrame takes. Falls back
    to ``createDataFrame`` for empty input (VALUES needs >= 1 row), for
    more than ``VALUES_MAX_ROWS`` rows, and for value/type shapes the
    renderer does not support. The fallback gets one partition per
    ``VALUES_MAX_ROWS`` rows instead of defaultParallelism near-empty
    ones (measured +0.25 s exec on the connected-components lanes).
    """
    cols = _split_schema(schema)
    rows = list(rows)
    try:
        if not 0 < len(rows) <= VALUES_MAX_ROWS:
            raise ValueError("VALUES takes 1 to VALUES_MAX_ROWS rows")
        rendered = []
        for r in rows:
            if not isinstance(r, (tuple, list)):
                r = (r,)
            if len(r) != len(cols):
                raise ValueError("row width != schema width")
            rendered.append(
                "(" + ", ".join(_render(v, t) for v, (_, t) in zip(r, cols)) + ")"
            )
    except (ValueError, TypeError):
        slices = max(
            1, min(spark.sparkContext.defaultParallelism, len(rows) // VALUES_MAX_ROWS)
        )
        return spark.createDataFrame(rows, schema).coalesce(slices)
    names = ", ".join(n for n, _ in cols)
    return spark.sql(f"SELECT * FROM (VALUES {', '.join(rendered)}) AS t({names})")
