"""Seeded input generator for the benchmark.

Two kinds of input, both a pure function of ``seed``:

- ``write_tables``: the ten parquet tables the registry queries read
  (TPC-H-style star schema, ``events``, ``documents``, ``embeddings``),
  with the schemas and value shapes of the project's reference test
  data (FIXTURES.md §B) at a chosen scale factor.
- ``write_transactions_csv``: the dirty transactions CSV that
  ``run_pipeline`` ingests (FIXTURES.md §A), derived from an
  ``events``-shaped stream. About 1% of rows break a DQ rule, so the
  0.98 pre gate passes; duplicates are full-row copies; timestamps are
  unique, so no address has two sales at one instant; amounts are
  unique, so the top-3 export is deterministic; and ``purchase`` events
  map to ``'sale'``, so the top-3 export has rows to publish.

``run.py`` runs this file as a child process, so the generator's
memory stays out of the benchmark process's peak resident memory.
"""

from __future__ import annotations

import json
import os
import sys
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "old", "red", "small"]
PART_NOUN = ["bolt", "gear", "gizmo", "plate", "ring", "rod", "widget", "nut", "pin"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

#: transaction_type per event type; 'purchase' events are the sales.
TXN_TYPE = {"purchase": "sale", "click": "transfer", "view": "purchase",
            "signup": "refund", "error": "refund"}
TXN_REGIONS = ["north", "south", "east", "west", "central"]


def _us(day: str) -> int:
    return int(datetime.fromisoformat(day).replace(tzinfo=timezone.utc).timestamp()) * 1_000_000


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _events(rng: np.random.Generator, n: int, n_users: int) -> dict[str, np.ndarray]:
    """A time-ordered event stream over January 2024 with unique
    microsecond timestamps."""
    start, span = _us("2024-01-01"), 30 * 86_400 * 1_000_000
    ts = start + np.sort(rng.integers(0, span - n, n)) + np.arange(n)
    return {
        "ts": ts,
        "user_id": rng.integers(0, n_users, n),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "k": rng.integers(0, 100, n),
    }


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    """Random-word documents of 40-580 characters; about 5% are near
    copies of an earlier document (suffixed ' dup') and a few are exact
    copies, so the dedup queries have work to find."""
    texts: list[str] = []
    words = np.array(DOC_WORDS)
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[rng.integers(0, i)] + " dup")
            continue
        if i > 10 and r < 0.052:
            texts.append(texts[rng.integers(0, i)])
            continue
        target = int(rng.integers(40, 580))
        text = " ".join(words[rng.integers(0, len(words), target // 4 + 2)])
        texts.append(text[:target].rstrip())
    return texts


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten query tables at scale factor ``sf``; return row
    counts by table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(20, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(50, int(1_500_000 * sf))
    n_line = max(200, int(6_000_000 * sf))
    n_ev = max(200, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))

    day_us = 86_400 * 1_000_000
    order_days = (_us("2001-08-01") - _us("1995-01-01")) // day_us
    ship_days = (_us("2001-11-04") - _us("1995-01-02")) // day_us
    lines_per_order = rng.integers(1, 8, n_ord)
    orderkeys = np.repeat(np.arange(n_ord), lines_per_order)[:n_line]
    n_line = len(orderkeys)
    linenumbers = np.concatenate([np.arange(1, c + 1) for c in lines_per_order])[:n_line]
    quantity = rng.integers(1, 51, n_line).astype("float64")
    ev = _events(rng, n_ev, max(5, int(15_000 * sf)))
    emb = rng.normal(size=(n_vec, 64)).astype("float32")
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    texts = _documents(rng, n_doc)

    tables = {
        "region": {"r_regionkey": pa.array(np.arange(5, dtype="int32")),
                   "r_name": REGIONS},
        "nation": {"n_nationkey": pa.array(np.arange(25, dtype="int32")),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array(np.arange(25, dtype="int32") % 5)},
        "customer": {
            "c_custkey": np.arange(n_cust),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype("int32")),
            "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust)},
        "supplier": {
            "s_suppkey": np.arange(n_supp),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype("int32")),
            "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp)},
        "part": {
            "p_partkey": np.arange(n_part),
            "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                                   rng.choice(PART_NOUN, n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype("int32")),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)},
        "orders": {
            "o_orderkey": np.arange(n_ord),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _cents(rng, 1000, 500_000, n_ord),
            "o_orderdate": _ts(_us("1995-01-01") + rng.integers(0, order_days, n_ord) * day_us),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord)},
        "lineitem": {
            "l_orderkey": orderkeys,
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": pa.array(linenumbers.astype("int32")),
            "l_quantity": quantity,
            "l_extendedprice": np.round(quantity * rng.uniform(900, 2100, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _ts(_us("1995-01-02") + rng.integers(0, ship_days, n_line) * day_us)},
        "events": {
            "event_id": np.arange(n_ev),
            "ts": _ts(ev["ts"]),
            "user_id": ev["user_id"],
            "event_type": ev["event_type"],
            "value": ev["value"],
            "props": [f'{{"k": {k}}}' for k in ev["k"]]},
        "documents": {
            "doc_id": np.arange(n_doc),
            "text": texts,
            "lang": rng.choice(LANGS, n_doc, p=LANG_P),
            "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64")},
        "embeddings": {
            "vec_id": np.arange(n_vec),
            "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vec).astype("int32"))},
    }
    rows = {}
    for name, cols in tables.items():
        table = pa.table({c: v if isinstance(v, pa.Array) else pa.array(v)
                          for c, v in cols.items()})
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows


def write_transactions_csv(path: str, seed: int, n_rows: int) -> dict[str, int]:
    """Write the dirty transactions CSV of ``n_rows`` rows (FIXTURES.md
    §A); return counts of the injected defects.

    Timestamps are epoch milliseconds. Each dirty row carries exactly
    one defect, so the rule violations the pre gate counts are known:
    null timestamp, null type, non-numeric amount and negative amount
    each hit 0.25% of rows. Noise the cleaner repairs without dropping
    the row (case, whitespace, sentinel strings in nullable columns)
    hits another 1.5%. About 1% of rows are duplicates, each a copy of
    an earlier row placed later in the file.
    """
    rng = np.random.default_rng(seed + 1_000_003)
    n_base = int(n_rows / 1.01)
    ev = _events(rng, n_base, max(50, n_base // 20))
    # strictly increasing milliseconds: no two rows share a timestamp
    ts_ms = ev["ts"] // 1000 + np.arange(n_base)
    amount = rng.choice(10_000_000, n_base, replace=False) / 100
    cols = {
        "timestamp": ts_ms.astype(str).astype(object),
        "transaction_type": np.array([TXN_TYPE[e] for e in EVENT_TYPES])[
            np.searchsorted(EVENT_TYPES, ev["event_type"])].astype(object),
        "amount": np.char.mod("%.2f", amount).astype(object),
        "receiving_address": np.char.add("addr_", ev["user_id"].astype(str)).astype(object),
        "location_region": np.array(TXN_REGIONS, dtype=object)[ev["k"] % 5],
        "risk_score": np.char.mod("%.2f", rng.uniform(0, 100, n_base)).astype(object),
    }
    kind = rng.random(n_base)
    defects = {}
    for name, col, lo, hi, fix in (
            ("null_timestamp", "timestamp", 0.0, 0.0025, lambda v: None),
            ("null_type", "transaction_type", 0.0025, 0.005, lambda v: None),
            ("bad_amount", "amount", 0.005, 0.0075, lambda v: "n/a"),
            ("negative_amount", "amount", 0.0075, 0.01, lambda v: "-" + v)):
        idx = np.flatnonzero((kind >= lo) & (kind < hi))
        cols[col][idx] = [fix(v) for v in cols[col][idx]]
        defects[name] = len(idx)
    noise = np.flatnonzero((kind >= 0.01) & (kind < 0.025))
    variants = [("transaction_type", str.upper), ("transaction_type", lambda v: f" {v.title()} "),
                ("transaction_type", lambda v: "nan"), ("receiving_address", lambda v: f"  {v} "),
                ("receiving_address", lambda v: "None"), ("location_region", lambda v: "0"),
                ("location_region", lambda v: ""), ("risk_score", lambda v: "high")]
    for i, pick in zip(noise, rng.integers(0, len(variants), len(noise))):
        col, fix = variants[pick]
        cols[col][i] = fix(cols[col][i])
    defects["noise"] = len(noise)
    # duplicates: copies of random rows, each placed after its source
    n_dup = n_rows - n_base
    src = rng.integers(0, n_base - 1, n_dup)
    after = src + 0.5 + rng.integers(0, n_base, n_dup) % (n_base - 1 - src)
    order = np.concatenate([np.arange(n_base), src])[
        np.argsort(np.concatenate([np.arange(n_base, dtype=float), after]), kind="stable")]
    defects["duplicates"] = n_dup
    table = pa.table({c: pa.array(v[order], type=pa.string()) for c, v in cols.items()})
    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    pacsv.write_csv(table, path, pacsv.WriteOptions(quoting_style="none"))
    return defects


if __name__ == "__main__":
    # python3 datagen.py tables OUT_DIR SEED SF | csv PATH SEED ROWS
    # prints the returned counts as one JSON line
    kind, path, seed, size = sys.argv[1:5]
    if kind == "tables":
        counts = write_tables(path, int(seed), float(size))
    else:
        counts = write_transactions_csv(path, int(seed), int(size))
    print(json.dumps(counts))
