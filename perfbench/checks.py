"""Output checks, computed in DuckDB from the same inputs.

- Queries: each registry query's own oracle SQL over the generated
  parquet tables, compared with ``tests.oracle_harness.compare``.
- Pipeline: the DQ dicts and curated outputs that ``run_pipeline``
  should produce for the generated CSV, written here as SQL from the
  cleaning and DQ contract (FIXTURES.md §A). Outputs are compared as
  parsed values, not bytes.

DuckDB runs with one thread per core; its timings are the paired
control the benchmark reports next to Spark's.
"""

from __future__ import annotations

import json
import math
import os
import time

import duckdb
import pandas as pd

PROFILE_COLUMNS = ["timestamp", "transaction_type", "amount", "receiving_address",
                   "location_region", "risk_score"]
NULL_TOKENS = "('', 'nan', 'None')"


def connect(threads: int) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"set threads to {threads}")
    return con


def query_oracles(con, sf_dir: str, tables, oracles: dict[str, str]):
    """Run each oracle SQL once, timed; return ``(results, seconds)`` by
    query name. The results are at most a few thousand rows, so the
    fetch adds little to DuckDB's time."""
    for t in tables:
        con.execute(f"create or replace view {t} as select * from "
                    f"'{os.path.join(sf_dir, t + '.parquet')}'")
    results, seconds = {}, {}
    for name, sql in oracles.items():
        t0 = time.perf_counter()
        results[name] = con.sql(sql).fetchdf()
        seconds[name] = time.perf_counter() - t0
    return results, seconds


def _num(col: str) -> str:
    """Spark's ``numeric_coerce``: try_cast to double, NaN → NULL."""
    return f"(case when isnan(try_cast({col} as double)) then null " \
           f"else try_cast({col} as double) end)"


def _str(col: str, lower: bool = False, extra: str = "") -> str:
    body = f"lower(trim({col}))" if lower else f"trim({col})"
    tokens = NULL_TOKENS[:-1] + extra + ")"
    return f"(case when {body} in {tokens} then null else {body} end)"


def _profile(con, relation: str, amount_expr: str) -> dict:
    nulls = ", ".join(
        f"count(*) - count({amount_expr if c == 'amount' else c})" for c in PROFILE_COLUMNS)
    row = con.sql(f"select count(*), {nulls}, count(*) filter ({amount_expr} < 0) "
                  f"from {relation}").fetchone()
    total, null_counts, negative = row[0], dict(zip(PROFILE_COLUMNS, row[1:7])), row[7]
    rules = {
        "timestamp_not_null": {"violations": null_counts["timestamp"]},
        "transaction_type_not_null": {"violations": null_counts["transaction_type"]},
        "amount_not_null": {"violations": null_counts["amount"]},
        "amount_non_negative": {"violations": negative},
    }
    fails = sum(r["violations"] for r in rules.values())
    return {"total_rows": total, "nulls": null_counts, "rules": rules,
            "failed_rows_estimate": fails,
            "conformity_rate": max(0.0, 1.0 - fails / (total + 1e-9))}


def pipeline_expected(con, csv_path: str) -> dict:
    """Expected DQ dicts and curated outputs of ``run_pipeline``.

    The generated timestamps are epoch milliseconds (median far above
    1e11 and below 1e14), so the clean step parses them as ms."""
    con.execute(f"create or replace view raw as select * from read_csv('{csv_path}', "
                "header=true, all_varchar=true)")
    pre = _profile(con, "raw", _num("amount"))
    con.execute(f"""create or replace table clean as select distinct
        epoch_ms(try_cast(timestamp as bigint)) as timestamp,
        {_str('transaction_type', lower=True)} as transaction_type,
        {_num('amount')} as amount,
        {_str('receiving_address')} as receiving_address,
        {_str('location_region', extra=", '0'")} as location_region,
        {_num('risk_score')} as risk_score
      from raw""")
    con.execute("delete from clean where timestamp is null or transaction_type is null "
                "or amount is null or amount < 0")
    post = _profile(con, "clean", "amount")
    region = con.sql("select location_region, avg(risk_score) as avg_risk_score from clean "
                     "where location_region is not null group by 1").fetchdf()
    top3 = con.sql("""select receiving_address, amount, timestamp from (
        select *, row_number() over (partition by receiving_address
                                     order by timestamp desc) as rn
        from clean where transaction_type = 'sale') where rn = 1
        order by amount desc limit 3""").fetchdf()
    return {"pre": pre, "post": post, "region_risk_avg": region, "top3": top3}


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-12)
    return a == b


def _dict_problems(where: str, got, want) -> list[str]:
    if isinstance(want, dict):
        if not isinstance(got, dict) or set(got) != set(want):
            return [f"{where}: keys {sorted(got) if isinstance(got, dict) else got} "
                    f"!= {sorted(want)}"]
        return [p for k in want for p in _dict_problems(f"{where}.{k}", got[k], want[k])]
    return [] if _close(got, want) else [f"{where}: {got!r} != {want!r}"]


def check_pipeline(con, result, data_dir: str, curated_dir: str, expected: dict) -> list[str]:
    """Problems with one ``run_pipeline`` call's outputs (empty: all
    match). ``con`` holds the ``clean`` table of ``pipeline_expected``."""
    problems: list[str] = []
    if result.failed_gate is not None:
        problems.append(f"gate {result.failed_gate} failed")
    for phase, key in (("pre_clean", "pre"), ("post_clean", "post")):
        with open(os.path.join(data_dir, f"dq_metrics_{key}.json")) as f:
            doc = json.load(f)
        problems += _dict_problems(f"dq_{key}", doc, {"phase": phase, **expected[key]})
    problems += _dict_problems("result.dq_pre", result.dq_pre, expected["pre"])
    stg = os.path.join(data_dir, "stg_transactions.parquet", "*.parquet")
    cols = ", ".join(PROFILE_COLUMNS)
    extra, missing = con.sql(
        f"select (select count(*) from (select {cols} from read_parquet('{stg}') "
        f"except all select {cols} from clean)), "
        f"(select count(*) from (select {cols} from clean "
        f"except all select {cols} from read_parquet('{stg}')))").fetchone()
    if extra or missing:
        problems.append(f"stg_transactions: {extra} rows not expected, {missing} missing")

    region = pd.read_csv(os.path.join(curated_dir, "region_risk_avg.csv"))
    want = expected["region_risk_avg"].sort_values("avg_risk_score", ascending=False)
    if list(region["location_region"]) != list(want["location_region"]) or not all(
            _close(a, b) for a, b in zip(region["avg_risk_score"], want["avg_risk_score"])):
        problems.append(f"region_risk_avg differs:\n{region}\nexpected:\n{want}")

    top3 = pd.read_csv(os.path.join(curated_dir, "top3_recent_sales_by_receiving.csv"))
    want = expected["top3"]
    got_ts = pd.to_datetime(top3["timestamp"], utc=True).dt.tz_localize(None)
    if list(top3["receiving_address"]) != list(want["receiving_address"]) or \
            list(top3["amount"]) != list(want["amount"]) or \
            list(got_ts) != list(pd.to_datetime(want["timestamp"])):
        problems.append(f"top3 differs:\n{top3}\nexpected:\n{want}")
    return problems
