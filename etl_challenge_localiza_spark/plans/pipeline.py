"""End-to-end ETL flow (SURVEY.md §2.7 C1-C6, §3.1).

Reference: the Prefect ``main()`` flow (flows/pipeline.py:222-265):
ingest → DQ pre → gate (raw snapshot + fail) → clean → DQ post → gate
(publish-then-fail) → publish. Prefect added only run-telemetry
(docker-compose.yml:17); plain driver control flow is the Spark
equivalent — actions fire exactly at the two gates and the sinks.

Three data passes, nothing cached (SURVEY.md §3.4):

1. the pre-gate aggregate over the CSV scan: the DQ profile plus the
   timestamp probe (``functions.timeparse.unit_probe``), which rides
   the same job as an ``Observation``, so cleaning needs no job of its
   own to pick the epoch unit;
2. clean → dedup → staging parquet, with the post-gate profile observed
   on that write (``observed_profile``). The reference publishes the
   staging table on both post-gate branches, so writing it before the
   gate changes no outcome;
3. the curated exports, read back from the staging parquet as the
   reference reads its DuckDB staging table, so both CSVs come from
   exactly the rows ``dropDuplicates`` kept there.

The raw CSV is scanned twice (passes 1 and 2) instead of being cached:
the re-scan is cheaper than filling and reading a cache at this size
and is the shape that still works when no executor can hold the batch.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import Observation, SparkSession

from ..functions.cleaning import normalize_name
from ..functions.timeparse import unit_from_probe, unit_probe
from ..operators.analytics import last_sale_per_address, region_risk_avg, top3_recent_sales
from ..operators.cleaning import clean_transactions
from ..operators.quality import (
    MIN_CONFORMITY_POST,
    MIN_CONFORMITY_PRE,
    QualityGateError,
    dq_profile,
    observed_profile,
    profile_metrics,
)
from ..sources.readers import read_transactions_csv
from ..sources.sinks import write_json_metrics, write_single_csv


@dataclass
class PipelineResult:
    dq_pre: dict
    dq_post: dict | None = None
    outputs: dict[str, str] = field(default_factory=dict)
    failed_gate: str | None = None


def run_pipeline(
    spark: SparkSession,
    input_csv: str | None = None,
    data_dir: str = "./data",
    curated_dir: str = "./curated",
    min_conformity_pre: float | None = None,
    min_conformity_post: float | None = None,
) -> PipelineResult:
    """The C1-C6 flow. Raises QualityGateError on gate failure with the
    same publish side-effects as the reference:

    - pre-gate failure: raw snapshot parquet is written first
      (flows/pipeline.py:236-247);
    - post-gate failure: curated outputs are STILL published
      (flows/pipeline.py:256-261).
    """
    from ..session import tune

    tune(spark)
    input_csv = input_csv or os.getenv("INPUT_CSV", "./input/df_fraud_credit.csv")
    pre_thresh = MIN_CONFORMITY_PRE if min_conformity_pre is None else min_conformity_pre
    post_thresh = MIN_CONFORMITY_POST if min_conformity_post is None else min_conformity_post
    os.makedirs(data_dir, exist_ok=True)
    os.makedirs(curated_dir, exist_ok=True)

    # C6: missing input → clear failure (flows/pipeline.py:226-229).
    # Spark raises AnalysisException lazily; probe eagerly for parity.
    if not os.path.exists(input_csv):
        raise FileNotFoundError(
            f"Input not found at {input_csv}. Place the CSV or set INPUT_CSV."
        )

    df_raw = read_transactions_csv(spark, input_csv)
    # the raw header that cleaning renames to "timestamp" (P1)
    ts_col = next((c for c in df_raw.columns if normalize_name(c) == "timestamp"), None)
    probe = Observation("timestamp_probe")
    probed = df_raw if ts_col is None else df_raw.observe(probe, *unit_probe(ts_col))

    dq_pre = dq_profile(probed)
    write_json_metrics(dq_pre, os.path.join(data_dir, "dq_metrics_pre.json"), phase="pre_clean")
    result = PipelineResult(dq_pre=dq_pre)

    if dq_pre["conformity_rate"] is not None and dq_pre["conformity_rate"] < pre_thresh:
        snap = os.path.join(data_dir, "raw_snapshot.parquet")
        df_raw.write.mode("overwrite").parquet(snap)
        result.outputs["raw_snapshot"] = snap
        result.failed_gate = "pre"
        err = QualityGateError(
            f"Conformity PRE ({dq_pre['conformity_rate']:.4f}) < {pre_thresh} — "
            "failing on quality policy."
        )
        err.result = result  # expose artifacts to the caller, as the
        raise err  # reference does by leaving files on disk

    route = None if ts_col is None else unit_from_probe(dict(df_raw.dtypes)[ts_col], probe.get)
    staged = observed_profile(clean_transactions(df_raw, timestamp_route=route), "dq_post")
    stg = os.path.join(data_dir, "stg_transactions.parquet")
    staged.write.mode("overwrite").parquet(stg)
    result.outputs["stg_transactions"] = stg

    dq_post = profile_metrics(staged._dq_observation.get)
    write_json_metrics(dq_post, os.path.join(data_dir, "dq_metrics_post.json"), phase="post_clean")
    result.dq_post = dq_post

    # The curated exports go out on both post-gate branches:
    # publish-then-raise (flows/pipeline.py:256-261). The known schema
    # spares the footer-reading job of schema inference.
    df_stg = spark.read.schema(staged.schema).parquet(stg)
    result.outputs["region_risk_avg"] = write_single_csv(
        region_risk_avg(df_stg), os.path.join(curated_dir, "region_risk_avg.csv")
    )
    result.outputs["top3_recent_sales_by_receiving"] = write_single_csv(
        top3_recent_sales(last_sale_per_address(df_stg)),
        os.path.join(curated_dir, "top3_recent_sales_by_receiving.csv"),
    )

    if dq_post["conformity_rate"] is not None and dq_post["conformity_rate"] < post_thresh:
        result.failed_gate = "post"
        err = QualityGateError(
            f"Conformity POST ({dq_post['conformity_rate']:.4f}) < {post_thresh} — "
            "failing on output quality policy."
        )
        err.result = result
        raise err
    return result


def main() -> int:
    """CLI entry mirroring the reference's ``python flows/pipeline.py``
    (flows/pipeline.py:267-268): env-configured input, gates fail the
    process with a non-zero exit."""
    import sys

    from ..session import get_spark

    spark = get_spark(app_name="local_etl_case")
    try:
        run_pipeline(spark)
    except FileNotFoundError as e:
        print(str(e), file=sys.stderr)
        return 1
    except QualityGateError as e:
        print(str(e), file=sys.stderr)
        return 2
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
