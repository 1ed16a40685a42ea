"""Incremental layer-to-layer loader: the reference's core ETL lifecycle.

Composes the engine's subsystems into the conform->staging hop the
reference runs per job (/root/reference/KafkaScript_ConformToStaging.sh):

  1. compute the HWM consumption window over the source job's runs (T6,
     :76-112); short-circuit on (0,0) ("NO RECORDS AVAILABLE TO PROCESS",
     :113-121)
  2. allocate a run id, read ONLY the window from the source layer
     (pushed-down BETWEEN on the run column, :123-143)
  3. land the batch in the target layer under this run's partition —
     idempotent on re-run (M1/M3)
  4. validate with the DQ suite and log PASS/FAIL audit rows (Q1/S9,
     fact_dim_merging.sh:107-110): the suite runs once, and the audit
     rows are the collected suite rows, not a second run of its plan
  5. mark the run complete and advance the high-water mark (:186-199)

Scale: the control-plane steps are tiny metadata ops; the data-plane read
is a single windowed scan -> partitioned write, fully parallel. Nothing
here collects data to the driver (the DQ suite's result rows, one per
check, are the only collect).
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_etl_automation_spark import quality, scd
from kafka_etl_automation_spark.control import HwmWindow, JobRegistry, apply_window


@dataclass
class LoadResult:
    run_id: int
    window: HwmWindow
    records: int
    dq_passed: bool


def incremental_load(
    spark: SparkSession,
    registry: JobRegistry,
    job_name: str,
    src_job_name: str,
    source_df: DataFrame,
    src_run_col: str,
    target_path: str,
    audit_path: str | None = None,
) -> LoadResult | None:
    """One incremental hop; returns None on the (0,0) short-circuit."""
    window = registry.hwm_window(job_name, src_job_name)
    if window.empty:
        return None  # NO RECORDS AVAILABLE TO PROCESS

    run_id = registry.start_run(job_name)
    batch = apply_window(source_df, window, src_run_col)
    if src_run_col == "create_job_run_id":
        # preserve upstream lineage under its own name: append_run restamps
        # create_job_run_id to THIS run (see scd.append_run docstring)
        batch = batch.withColumnRenamed(src_run_col, "src_job_run_id")
        src_run_col = "src_job_run_id"

    if batch.isEmpty():
        # a successful source run can legitimately carry zero rows (the
        # reference's "NO RECORDS" runs complete with success status);
        # consume the window without writing a footerless empty partition
        registry.finish_run(job_name, run_id, status=1, records=0)
        registry.record_consumed(job_name, run_id, src_job_name, window)
        return LoadResult(run_id, window, 0, True)

    scd.append_run(batch, target_path, run_id)

    landed = scd.read_dim(spark, target_path).filter(
        F.col("create_job_run_id") == run_id
    )
    checks = quality.run_suite(
        [
            quality.count_check(batch, landed, f"{job_name}_run{run_id}_count"),
            quality.null_check(
                landed, [src_run_col], f"{job_name}_run{run_id}_runcol_notnull"
            ),
        ]
    )
    rows = checks.collect()
    passed = all(r.status == quality.PASS for r in rows)
    records = next(
        int(r.metric_b) for r in rows if r.check_name.endswith("_count")
    )
    if audit_path:
        quality.append_audit(
            quality.collected_results(spark, rows, checks.schema), audit_path, run_id
        )

    registry.finish_run(job_name, run_id, status=1 if passed else 2, records=records)
    if passed:
        registry.record_consumed(job_name, run_id, src_job_name, window)
    else:
        # failed run's rows must not linger for a retry to duplicate —
        # the reference's delete-then-reload contract (rerunnability.sh:91-131)
        scd.delete_run(spark, target_path, run_id)
    return LoadResult(run_id, window, records, passed)


# Re-aggregatable merge rules: how two partial states of the same aggregate
# combine. AVG is intentionally absent — carry (sum, count) and derive.
_MERGE_FNS = {"count": F.sum, "sum": F.sum, "min": F.min, "max": F.max}


def merge_aggregate_state(
    prev: DataFrame,
    delta: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, str],
) -> DataFrame:
    """Incremental aggregate maintenance: merge a previously materialized
    aggregate state with the aggregate of ONLY the new data, giving the
    same result as recomputing over everything — the rollup-refresh step
    of an incremental pipeline (new day's partition arrives, the daily
    rollup table updates without rescanning history).

    ``prev`` and ``delta`` share a schema: ``keys`` + one column per entry
    of ``aggs`` (col name -> one of count/sum/min/max — the distributive
    aggregates, which re-aggregate losslessly; holistic ones like exact
    median can't be maintained this way and must go through sketches).

    At 100 TB this is THE difference between a daily rollup costing one
    day's scan vs the full history: union(prev, delta) shuffles only
    aggregate-sized frames (one row per key), never raw events, and the
    merge aggregation is itself partial-aggregable (map-side combine).
    Correctness contract (merged == full recompute) is exactly what the
    registered oracle proves.
    """
    merged_exprs = []
    for col, fn in aggs.items():
        if fn not in _MERGE_FNS:
            raise ValueError(
                f"aggregate {fn!r} on {col!r} is not re-aggregatable; "
                f"supported: {sorted(_MERGE_FNS)}"
            )
        merged_exprs.append(_MERGE_FNS[fn](F.col(col)).alias(col))
    return prev.unionByName(delta).groupBy(*keys).agg(*merged_exprs)
