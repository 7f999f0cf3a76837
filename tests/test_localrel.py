"""functions.localrel: the VALUES ship-back of driver-held results."""

from __future__ import annotations

import etl_challenge_localiza_spark.functions.localrel as L


def test_values_table_nested_empty_arrays(spark):
    """array<array<bigint>> with the outer and an inner array empty:
    the VALUES relation keeps the declared type and the values."""
    rows = [(1, []), (2, [[]]), (3, [[7, 8], []])]
    df = L.values_table(spark, rows, "id bigint, v array<array<bigint>>")
    assert dict(df.dtypes)["v"] == "array<array<bigint>>"
    assert sorted((r["id"], r["v"]) for r in df.collect()) == rows
    only_empty = L.values_table(spark, [([],)], "v array<array<bigint>>")
    assert only_empty.collect()[0]["v"] == []
    assert dict(only_empty.dtypes)["v"] == "array<array<bigint>>"


def test_values_table_row_cap_falls_back_to_sized_create(spark, monkeypatch):
    """Past VALUES_MAX_ROWS the rows ship through createDataFrame with
    one partition per VALUES_MAX_ROWS rows, not defaultParallelism."""
    monkeypatch.setattr(L, "VALUES_MAX_ROWS", 2)
    rows = [(i, i * i) for i in range(5)]
    df = L.values_table(spark, rows, "a bigint, b bigint")
    assert "LocalTableScan" not in df._jdf.queryExecution().executedPlan().toString()
    assert df.rdd.getNumPartitions() == 2
    assert sorted(tuple(r) for r in df.collect()) == rows
