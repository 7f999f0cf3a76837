"""End-to-end tests of the reference flow (SURVEY.md §2.7, §3.1)."""

from __future__ import annotations

import csv
import datetime as dt
import json
import os
import threading
import uuid

import pytest

from etl_challenge_localiza_spark.operators.quality import QualityGateError, dq_profile
from etl_challenge_localiza_spark.plans import pipeline
from etl_challenge_localiza_spark.plans.pipeline import run_pipeline

HEADER = ["timestamp", "transaction_type", "amount", "Receiving Address", "location_region", "risk_score"]


def _write_csv(path, rows):
    with open(path, "w", newline="") as f:
        csv.writer(f).writerows(rows)
    return path


def _good_rows(n=200):
    rows = [HEADER]
    for i in range(n):
        rows.append(
            [
                str(1_700_000_000 + i * 60),
                ["SALE", " Sale ", "refund", "transfer"][i % 4],
                f"{100 + i}.50",
                f" addr_{i % 10} ",
                ["north", "south", "east", "west", "0"][i % 5],
                str(i % 100),
            ]
        )
    return rows


def test_pipeline_happy_path(spark, tmp_path):
    rows = _good_rows()
    rows.append(["", "sale", "1.0", "a", "north", "1"])  # 1 dirty row (<2%)
    rows.append(rows[1])  # exact duplicate → deduped
    src = _write_csv(tmp_path / "txn.csv", rows)
    res = run_pipeline(
        spark, str(src), data_dir=str(tmp_path / "data"), curated_dir=str(tmp_path / "cur")
    )
    assert res.failed_gate is None
    assert res.dq_pre["conformity_rate"] > 0.98
    assert res.dq_post["conformity_rate"] == 1.0  # cleaning removes all violations
    # curated CSV ordered desc by avg_risk_score (flows/pipeline.py:185)
    with open(res.outputs["region_risk_avg"]) as f:
        rdr = list(csv.DictReader(f))
    avgs = [float(r["avg_risk_score"]) for r in rdr]
    assert avgs == sorted(avgs, reverse=True)
    assert "0" not in {r["location_region"] for r in rdr}  # "0" → null → filtered
    with open(res.outputs["top3_recent_sales_by_receiving"]) as f:
        top = list(csv.DictReader(f))
    assert len(top) == 3
    amounts = [float(r["amount"]) for r in top]
    assert amounts == sorted(amounts, reverse=True)
    # metrics JSON persisted with phase field (flows/pipeline.py:105)
    m = json.load(open(tmp_path / "data" / "dq_metrics_pre.json"))
    assert m["phase"] == "pre_clean" and m["total_rows"] == len(rows) - 1


def test_pipeline_pre_gate_snapshot_and_fail(spark, tmp_path):
    rows = [HEADER[:3]] + [["", "", "-1"]] * 10 + [["1700000000", "sale", "5"]] * 10
    src = _write_csv(tmp_path / "bad.csv", rows)
    with pytest.raises(QualityGateError, match="PRE"):
        run_pipeline(spark, str(src), data_dir=str(tmp_path / "d"), curated_dir=str(tmp_path / "c"))
    # snapshot published even on failure (flows/pipeline.py:236-247)
    assert os.path.exists(tmp_path / "d" / "raw_snapshot.parquet")
    assert not os.path.exists(tmp_path / "c" / "region_risk_avg.csv")


def test_pipeline_post_gate_publishes_then_raises(spark, tmp_path):
    # post-clean data is violation-free by construction, so force the
    # post gate with a threshold > 1 (same publish-then-raise path the
    # reference takes at flows/pipeline.py:256-261).
    src = _write_csv(tmp_path / "ok.csv", _good_rows(50))
    with pytest.raises(QualityGateError, match="POST"):
        run_pipeline(
            spark,
            str(src),
            data_dir=str(tmp_path / "d"),
            curated_dir=str(tmp_path / "c"),
            min_conformity_post=1.1,
        )
    assert os.path.exists(tmp_path / "c" / "region_risk_avg.csv")  # still published


def test_pipeline_missing_input(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        run_pipeline(spark, str(tmp_path / "nope.csv"), data_dir=str(tmp_path / "d"), curated_dir=str(tmp_path / "c"))


def test_pipeline_empty_input(spark, tmp_path):
    src = _write_csv(tmp_path / "empty.csv", [HEADER])
    res = run_pipeline(spark, str(src), data_dir=str(tmp_path / "d"), curated_dir=str(tmp_path / "c"))
    assert res.dq_pre["total_rows"] == 0
    assert res.dq_pre["conformity_rate"] == 1.0  # §7.4.7
    with open(res.outputs["region_risk_avg"]) as f:
        assert f.read().strip() == "location_region,avg_risk_score"


def _run(spark, tmp_path, rows, **kw):
    src = _write_csv(tmp_path / "in.csv", rows)
    return run_pipeline(
        spark, str(src), data_dir=str(tmp_path / "d"), curated_dir=str(tmp_path / "c"), **kw
    )


def _jobs_of(spark, fn):
    """Run ``fn`` under a fresh job group; return (result, its job ids)."""
    sc = spark.sparkContext
    group = f"pipeline-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


@pytest.mark.parametrize("post_thresh", [None, 1.1], ids=["passes", "post_gate_fails"])
def test_pipeline_three_passes_no_cache(spark, tmp_path, monkeypatch, post_thresh):
    """One call is 11 Spark jobs: the CSV header read (1), the pre-gate
    aggregate carrying the timestamp probe (2: shuffle map + result),
    the staging write (2) and the two curated exports (4 + 2). Nothing
    is cached, and no frame is left cached on either post-gate branch."""
    from pyspark.sql.classic.dataframe import DataFrame

    def refuse(self, *a, **k):
        raise AssertionError("run_pipeline must not cache or probe with isEmpty")

    for name in ("cache", "persist", "isEmpty"):
        monkeypatch.setattr(DataFrame, name, refuse)
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc.sc()

    def stored_rdds():  # other tests' local checkpoints live here too
        return {info.id() for info in jsc.getRDDStorageInfo()}

    before = stored_rdds()

    def call():
        try:
            return _run(spark, tmp_path, _good_rows(), min_conformity_post=post_thresh)
        except QualityGateError as e:
            return e.result

    res, jobs = _jobs_of(spark, call)
    assert res.failed_gate == (None if post_thresh is None else "post")
    assert len(jobs) == 11, sorted(jobs)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert stored_rdds() <= before


def test_pipeline_post_profile_is_the_staging_profile(spark, tmp_path):
    rows = _good_rows()
    rows += [rows[1], rows[2], ["1700000000", "sale", "-3", "a", "north", "1"]]
    res = _run(spark, tmp_path, rows)
    doc = json.load(open(tmp_path / "d" / "dq_metrics_post.json"))
    assert doc.pop("phase") == "post_clean"
    want = dq_profile(spark.read.parquet(res.outputs["stg_transactions"]))
    assert doc == want == res.dq_post
    assert want["total_rows"] == 200  # two duplicates and one negative amount gone


@pytest.mark.parametrize(
    "rows",
    [[HEADER], [HEADER, ["", "sale", "1.0", "a", "north", "1"], ["5", "", "-2", "b", "", ""]]],
    ids=["header_only", "every_row_dropped"],
)
def test_pipeline_empty_post_profile(spark, tmp_path, rows):
    """An empty staging table still reports its observed profile; the
    call must not block waiting for it."""
    box = {}

    def call():
        box["res"] = _run(spark, tmp_path, rows, min_conformity_pre=0.0)

    t = threading.Thread(target=call, daemon=True)
    t.start()
    t.join(timeout=300)
    assert not t.is_alive(), "run_pipeline hung on the post-gate observation"
    res = box["res"]
    assert res.dq_post["total_rows"] == 0
    assert res.dq_post["conformity_rate"] == 1.0
    assert spark.read.parquet(res.outputs["stg_transactions"]).count() == 0
    with open(res.outputs["top3_recent_sales_by_receiving"]) as f:
        assert f.read().strip() == "receiving_address,amount,timestamp"


def _staged_timestamps(spark, res):
    stg = spark.read.parquet(res.outputs["stg_transactions"])
    return sorted(r["timestamp"].replace(tzinfo=None) for r in stg.select("timestamp").collect())


def _route_spy(monkeypatch):
    routes = []
    orig = pipeline.clean_transactions

    def spy(df, *a, **k):
        routes.append(k.get("timestamp_route"))
        return orig(df, *a, **k)

    monkeypatch.setattr(pipeline, "clean_transactions", spy)
    return routes


def test_pipeline_probe_epoch_ms_under_raw_header(spark, tmp_path, monkeypatch):
    """The probe reads the raw header that cleaning renames to
    ``timestamp`` (here " Timestamp"), next to a "Receiving Address"
    header, and its unit decision reaches the clean stage."""
    routes = _route_spy(monkeypatch)
    base = 1_700_000_000_000
    rows = [[" Timestamp"] + HEADER[1:]] + [
        [str(base + i * 1000), "sale", f"{i}.5", f"addr_{i}", "north", "1"] for i in range(20)
    ]
    res = _run(spark, tmp_path, rows)
    assert routes == ["ms"]
    # the pre profile sees raw names only (flows/pipeline.py:100-102)
    assert not {"timestamp", "receiving_address"} & set(res.dq_pre["nulls"])
    want = [dt.datetime(2023, 11, 14, 22, 13, 20 + i) for i in range(20)]
    assert _staged_timestamps(spark, res) == want
    stg = spark.read.parquet(res.outputs["stg_transactions"])
    assert stg.filter("receiving_address is null").count() == 0


def test_pipeline_probe_string_timestamps(spark, tmp_path, monkeypatch):
    routes = _route_spy(monkeypatch)
    rows = [HEADER] + [
        [f"2024-01-0{d} 03:04:05", "sale", f"{d}.5", "a", "north", "1"] for d in range(1, 6)
    ] + [["not a date", "sale", "9.5", "a", "north", "1"]]
    res = _run(spark, tmp_path, rows, min_conformity_pre=0.0, min_conformity_post=0.0)
    assert routes == ["string"]
    assert res.dq_post["total_rows"] == 5  # the unparseable one coerces to NULL → dropped
    assert _staged_timestamps(spark, res) == [dt.datetime(2024, 1, d, 3, 4, 5) for d in range(1, 6)]


def test_pipeline_missing_timestamp_column(spark, tmp_path, monkeypatch):
    routes = _route_spy(monkeypatch)
    rows = [HEADER[1:]] + [["sale", "1.5", "a", "north", "1"]] * 3
    res = _run(spark, tmp_path, rows)
    assert routes == [None]
    assert "timestamp" not in res.dq_pre["nulls"]
    assert res.dq_post["total_rows"] == 0  # P9: NULL timestamps, all dropped


def test_pipeline_curated_exports_read_the_staging_rows(spark, tmp_path):
    """Duplicate keys with different risk scores: whichever row
    ``dropDuplicates`` keeps, the region averages are the staging
    table's."""
    from pyspark.sql import functions as F

    rows = [HEADER]
    for i in range(40):
        key = [str(1_700_000_000 + i % 10), "sale", f"{i % 10}.5", f"addr_{i % 10}"]
        rows.append(key + [["north", "south"][i % 10 % 2], str(i)])
    res = _run(spark, tmp_path, rows)
    stg = spark.read.parquet(res.outputs["stg_transactions"])
    assert stg.count() == 10
    want = {
        r["location_region"]: r["a"]
        for r in stg.groupBy("location_region").agg(F.avg("risk_score").alias("a")).collect()
    }
    with open(res.outputs["region_risk_avg"]) as f:
        got = {r["location_region"]: float(r["avg_risk_score"]) for r in csv.DictReader(f)}
    assert got == pytest.approx(want)


def test_csv_quarantine_splits_malformed_rows(spark, tmp_path):
    """Malformed CSV lines (broken quoting) land in the quarantine
    channel verbatim; clean rows parse; nothing is silently dropped."""
    from etl_challenge_localiza_spark.sources.readers import read_csv_with_quarantine

    p = tmp_path / "in.csv"
    p.write_text(
        "timestamp,transaction_type,amount\n"
        "1700000000,sale,10.5\n"
        '1700000001,"unclosed quote,20.0\n'
        "1700000002,refund,7.5\n"
    )
    good, quarantine = read_csv_with_quarantine(
        spark,
        str(p),
        "timestamp string, transaction_type string, amount string",
    )
    assert good.count() == 2
    assert {r["transaction_type"] for r in good.collect()} == {"sale", "refund"}
    bad = quarantine.collect()
    assert len(bad) == 1
    assert "unclosed quote" in bad[0]["raw_line"]
