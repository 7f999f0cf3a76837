"""Full-headliner benchmark at sf1 (VERDICT r5 directive #5).

Builds a ~sf1 tier by cloning sf0.1 x10 — every table, not just the
relational three — then runs ALL headline queries in Spark (exec-only
and full-call, bench.py's dual timing) AND their own oracle SQL in
DuckDB (32 threads, best-of-2) on the SAME parquet. This makes
amortization the headline number: at sf0.1 the fixed per-query driver
overhead (~0.3-0.5 s of Catalyst/py4j/footer listing) dominates; at
sf1 the distributed execution does.

Cloning design (volume x10, semantics preserved):
- lineitem/orders/events: the key/time-offset scheme of the relscale
  experiments recorded in PERF.md — fact grows, dims fixed, join
  selectivity and per-key history genuinely grow.
- documents: doc_id offset per copy; for copies k>0 every token is
  prefixed with a copy tag ("q<k>"), so WITHIN-copy near-dup structure
  (the generator's planted clusters) is preserved exactly while
  CROSS-copy shingle similarity is zero — a 10x corpus with the same
  dup-rate, not 10 exact copies of each doc (which would quadratically
  inflate LSH candidate pairs and make dedup timings meaningless).
- embeddings: vec_id offset; components shifted by k*1e-3 so clones
  are not exact ties in top-k (degenerate tie-handling would otherwise
  dominate kNN timing).

Usage:  python -m tools.sf1_bench [--factor 10] [names...]
Writes parquet under .relscale/sf1/ (gitignored); prints a markdown
table for PERF.md plus one JSON summary line.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

SRC = "/root/testdata/sf0.1"
ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".relscale")


def build_sf1(spark, k: int = 10, out_name: str = "sf1") -> str:
    from pyspark.sql import functions as F

    from etl_challenge_localiza_spark.sources.readers import load_table

    out = os.path.join(ROOT, out_name)
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)

    li = load_table(spark, SRC, "lineitem")
    orders = load_table(spark, SRC, "orders")
    events = load_table(spark, SRC, "events")
    docs = load_table(spark, SRC, "documents")
    emb = load_table(spark, SRC, "embeddings")
    ok_max = 1 + orders.agg(F.max("o_orderkey")).collect()[0][0]
    eid_max = 1 + events.agg(F.max("event_id")).collect()[0][0]
    did_max = 1 + docs.agg(F.max("doc_id")).collect()[0][0]
    vid_max = 1 + emb.agg(F.max("vec_id")).collect()[0][0]

    copies = spark.range(k).withColumnRenamed("id", "__k")

    def explode(df, mutate):
        # repartition the SOURCE (sf0.1-sized) before the ×k fan-out:
        # shuffling after the crossJoin moves k× the data (at k=1000
        # the old shape spilled >40 GB of shuffle for lineitem alone
        # and serialized on 3 source splits); each of the 32 tasks now
        # expands its small slice map-side and writes directly.
        return mutate(df.repartition(32).crossJoin(F.broadcast(copies))).drop("__k")

    def write(df, name):
        df.write.mode("overwrite").parquet(os.path.join(out, f"{name}.parquet"))

    write(
        explode(li, lambda d: d.withColumn("l_orderkey", F.col("l_orderkey") + F.col("__k") * ok_max)),
        "lineitem",
    )
    write(
        explode(
            orders,
            lambda d: d.withColumn("o_orderkey", F.col("o_orderkey") + F.col("__k") * ok_max)
            .withColumn("o_orderdate", F.expr("o_orderdate + make_interval(0,0,0,17*__k,0,0,0)")),
        ),
        "orders",
    )
    write(
        explode(
            events,
            lambda d: d.withColumn("event_id", F.col("event_id") + F.col("__k") * eid_max)
            .withColumn("ts", F.expr("ts + make_interval(0,0,0,0,0,17*__k,0)")),
        ),
        "events",
    )
    write(
        explode(
            docs,
            lambda d: d.withColumn("doc_id", F.col("doc_id") + F.col("__k") * did_max)
            .withColumn(
                "text",
                F.when(F.col("__k") == 0, F.col("text")).otherwise(
                    F.expr("array_join(transform(split(text, ' '), w -> concat('q', __k, w)), ' ')")
                ),
            )
            .withColumn("n_chars", F.length("text")),
        ),
        "documents",
    )
    write(
        explode(
            emb,
            lambda d: d.withColumn("vec_id", F.col("vec_id") + F.col("__k") * vid_max)
            .withColumn(
                "embedding",
                F.expr("transform(embedding, x -> x + cast(__k as float) * cast(0.001 as float))"),
            ),
        ),
        "embeddings",
    )
    for t in ["region", "nation", "customer", "supplier", "part"]:
        shutil.copy(os.path.join(SRC, f"{t}.parquet"), os.path.join(out, f"{t}.parquet"))
    open(os.path.join(out, "_DONE"), "w").write("ok")
    return out


def main() -> int:
    factor = 10
    names: list[str] = []
    args = sys.argv[1:]
    while args:
        a = args.pop(0)
        if a == "--factor":
            factor = int(args.pop(0))
        else:
            names.append(a)

    import duckdb

    from etl_challenge_localiza_spark.registry import QUERIES
    from etl_challenge_localiza_spark.session import get_spark
    from etl_challenge_localiza_spark.sources.readers import TESTDATA_TABLES

    spark = get_spark(app_name="sf1_bench")
    t0 = time.time()
    # distinct tier dir per factor — reusing "sf1" for factor != 10
    # would silently hit the cached x10 tier's _DONE marker
    sf_dir = build_sf1(
        spark, factor, out_name="sf1" if factor == 10 else f"allx{factor}"
    )
    print(f"sf1 tier ready at {sf_dir} ({time.time() - t0:.0f}s)", file=sys.stderr)

    # Spark writes each table as a DIRECTORY of part files; DuckDB
    # needs the glob form for those (single files for the dims).
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        src = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(f"create view {t} as select * from '{src}'")
    con.execute("set threads to 32")

    headliners = [n for n, q in QUERIES.items() if q.headline and (not names or n in names)]
    QUERIES["top10_orders"].fn(spark, sf_dir).collect()  # warm-up, not timed

    rows = []
    for name in headliners:
        q = QUERIES[name]
        best = best_full = float("inf")
        for _ in range(2):
            tf0 = time.perf_counter()
            df = q.fn(spark, sf_dir)
            te0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            te1 = time.perf_counter()
            best = min(best, te1 - te0)
            best_full = min(best_full, te1 - tf0)
        duck = float("inf")
        if q.oracle is not None:
            # no-transfer drain symmetric with the Spark noop sink
            # (bench.py r13: materialized CTE forces full compute,
            # count(*) moves one scalar instead of the result set)
            wrapped = (
                f"with __bench_q as materialized ({q.oracle}) "
                "select count(*) from __bench_q"
            )
            try:
                # execute once, not just parse/bind — a wrapper that
                # binds but fails at runtime must fall back instead of
                # aborting the run (ADVICE r13); doubles as warm-up
                con.sql(wrapped).fetchall()
                run_sql = wrapped
            except Exception:
                run_sql = q.oracle
            for _ in range(2):
                td0 = time.perf_counter()
                con.sql(run_sql).fetchall()
                duck = min(duck, time.perf_counter() - td0)
        rows.append((name, best, best_full, duck))
        d = f"{duck:.2f}" if duck != float("inf") else "—"
        print(f"  {name}: spark {best:.2f}s (full {best_full:.2f}s) duck {d}s", file=sys.stderr)

    print("| query | spark exec | spark full | duckdb | exec ratio |")
    print("|---|---|---|---|---|")
    tot_e = tot_f = tot_d = 0.0
    for name, e, f_, d in rows:
        tot_e += e
        tot_f += f_
        if d != float("inf"):
            tot_d += d
            print(f"| {name} | {e:.2f} s | {f_:.2f} s | {d:.2f} s | {e / d:.2f}x |")
        else:
            print(f"| {name} | {e:.2f} s | {f_:.2f} s | — | — |")
    print(f"| **total** | **{tot_e:.2f} s** | **{tot_f:.2f} s** | **{tot_d:.2f} s** | |")
    print(
        json.dumps(
            {
                "metric": "sf1_headliners_total",
                "spark_exec_s": round(tot_e, 2),
                "spark_full_s": round(tot_f, 2),
                "duckdb_s": round(tot_d, 2),
                "n_queries": len(rows),
                "factor": factor,
            }
        )
    )
    # explicit teardown — with the big tier cached the gateway can
    # keep the process alive after the table prints
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
