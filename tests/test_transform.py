"""End-to-end incremental loader tests (the conform->staging lifecycle)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from kafka_etl_automation_spark import scd
from kafka_etl_automation_spark.control import JobRegistry
from kafka_etl_automation_spark.transform import incremental_load


def _src_runs(reg, n):
    for _ in range(n):
        r = reg.start_run("conform")
        reg.finish_run("conform", r, status=1)


def test_second_hop_restamps_upstream_lineage(spark, tmp_root):
    """A source already carrying create_job_run_id (output of a previous
    hop) must be restamped to THIS run — upstream run ids in {1,2} with new
    run id 1 previously scattered the batch across upstream partitions and
    broke landed-row accounting (code-review r02)."""
    reg = JobRegistry(spark, os.path.join(tmp_root, "ctl"))
    upstream = spark.range(20).select(
        F.col("id"), (F.col("id") % 2 + 1).alias("create_job_run_id")
    )
    _src_runs(reg, 2)
    r = incremental_load(
        spark, reg, "mart", "conform", upstream, "create_job_run_id",
        os.path.join(tmp_root, "mart"),
    )
    assert r is not None and r.dq_passed and r.records == 20
    dim = scd.read_dim(spark, os.path.join(tmp_root, "mart"))
    # all rows under THIS run's partition; upstream lineage preserved renamed
    assert dim.select("create_job_run_id").distinct().collect()[0][0] == r.run_id
    assert set(x.src_job_run_id for x in dim.select("src_job_run_id").distinct().collect()) == {1, 2}


def test_empty_window_batch_completes_without_write(spark, tmp_root):
    """A successful source run with zero matching rows must consume the
    window (status 1, records 0) and not leave a footerless partition."""
    reg = JobRegistry(spark, os.path.join(tmp_root, "ctl"))
    source = spark.range(10).select(
        F.col("id"), F.lit(99).cast("long").alias("job_run_id")  # never in window
    )
    _src_runs(reg, 1)
    r = incremental_load(
        spark, reg, "stg", "conform", source, "job_run_id",
        os.path.join(tmp_root, "staging"),
    )
    assert r is not None and r.dq_passed and r.records == 0
    assert not os.path.exists(os.path.join(tmp_root, "staging"))
    # window consumed: next call short-circuits
    assert (
        incremental_load(spark, reg, "stg", "conform", source, "job_run_id",
                         os.path.join(tmp_root, "staging"))
        is None
    )


def test_failed_dq_does_not_advance_hwm(spark, tmp_root, monkeypatch):
    """A load whose DQ suite fails must record status 2 and leave the
    high-water mark untouched, so the next attempt retries the SAME window
    (the reference's failed-run-not-consumed semantics)."""
    from kafka_etl_automation_spark import quality as q
    from kafka_etl_automation_spark import transform as tf

    reg = JobRegistry(spark, os.path.join(tmp_root, "ctl"))
    source = spark.range(10).select(
        F.col("id"), F.lit(1).cast("long").alias("job_run_id")
    )
    _src_runs(reg, 1)

    real_count_check = q.count_check

    def failing_count_check(src, tgt, name="count_check"):
        out = real_count_check(src, tgt, name)
        return out.withColumn("status", F.lit("FAIL"))

    monkeypatch.setattr(tf.quality, "count_check", failing_count_check)
    r1 = tf.incremental_load(
        spark, reg, "stg", "conform", source, "job_run_id",
        os.path.join(tmp_root, "staging"),
    )
    assert r1 is not None and not r1.dq_passed
    assert reg.run_status("stg", r1.run_id) == 2  # failed
    monkeypatch.setattr(tf.quality, "count_check", real_count_check)

    # retry sees the SAME window and succeeds
    r2 = tf.incremental_load(
        spark, reg, "stg", "conform", source, "job_run_id",
        os.path.join(tmp_root, "staging"),
    )
    assert r2 is not None and r2.dq_passed
    assert (r2.window.min_run_id, r2.window.max_run_id) == (
        r1.window.min_run_id,
        r1.window.max_run_id,
    )
    # the failed run's partition was deleted: rows present exactly once
    dim = scd.read_dim(spark, os.path.join(tmp_root, "staging"))
    assert dim.count() == 10
    assert dim.select("id").distinct().count() == 10


def test_two_loads_consume_disjoint_windows(spark, tmp_root):
    reg = JobRegistry(spark, os.path.join(tmp_root, "ctl"))
    source = spark.range(100).select(
        F.col("id"), (F.col("id") % 4 + 1).alias("job_run_id")
    )
    staging = os.path.join(tmp_root, "staging")
    audit = os.path.join(tmp_root, "audit")

    _src_runs(reg, 2)
    r1 = incremental_load(
        spark, reg, "stg", "conform", source, "job_run_id", staging, audit
    )
    assert r1 is not None and r1.dq_passed
    assert (r1.window.min_run_id, r1.window.max_run_id) == (1, 2)
    assert r1.records == 50  # ids with run 1 or 2

    _src_runs(reg, 1)
    r2 = incremental_load(
        spark, reg, "stg", "conform", source, "job_run_id", staging, audit
    )
    assert (r2.window.min_run_id, r2.window.max_run_id) == (3, 3)
    assert r2.records == 25

    # short-circuit when nothing new
    assert (
        incremental_load(spark, reg, "stg", "conform", source, "job_run_id", staging)
        is None
    )

    # staged data: no overlap between load partitions, totals conserved
    dim = scd.read_dim(spark, staging)
    assert dim.count() == 75
    assert dim.select("id").distinct().count() == 75
    # DQ audit rows landed with run ids
    log = spark.read.parquet(audit)
    assert log.filter("status = 'PASS'").count() == log.count() and log.count() == 4


def test_audit_rows_are_the_collected_suite(spark, tmp_root, monkeypatch):
    """The audit table gets exactly the suite rows the load decided on,
    stamped with the run id, for a PASS load and a FAIL load — and the
    frame handed to the sink is built from those rows, not a second run
    of the suite over the files."""
    from kafka_etl_automation_spark import quality as q
    from kafka_etl_automation_spark import transform as tf

    reg = JobRegistry(spark, os.path.join(tmp_root, "ctl"))
    source = spark.range(10).select(
        F.col("id"), F.lit(1).cast("long").alias("job_run_id")
    )
    staging = os.path.join(tmp_root, "staging")
    audit = os.path.join(tmp_root, "audit")
    _src_runs(reg, 1)

    plans = []
    real_append_audit = q.append_audit

    def recording_append_audit(results, path, run_id=None):
        plans.append(results._jdf.queryExecution().analyzed().toString())
        real_append_audit(results, path, run_id)

    monkeypatch.setattr(tf.quality, "append_audit", recording_append_audit)
    real_count_check = q.count_check
    monkeypatch.setattr(
        tf.quality,
        "count_check",
        lambda src, tgt, name: real_count_check(src, tgt, name).withColumn(
            "status", F.lit("FAIL")
        ),
    )
    failed = tf.incremental_load(spark, reg, "stg", "conform", source, "job_run_id", staging, audit)
    monkeypatch.setattr(tf.quality, "count_check", real_count_check)
    passed = tf.incremental_load(spark, reg, "stg", "conform", source, "job_run_id", staging, audit)
    assert not failed.dq_passed and passed.dq_passed

    def suite(run_id, count_status):
        return [
            (f"stg_run{run_id}_count", count_status, 10, 10, run_id),
            (f"stg_run{run_id}_runcol_notnull", "PASS", 0, 10, run_id),
        ]

    log = spark.read.parquet(audit).select(
        "check_name", "status", "metric_a", "metric_b", "job_run_id"
    )
    assert sorted(tuple(r) for r in log.collect()) == sorted(
        suite(failed.run_id, "FAIL") + suite(passed.run_id, "PASS")
    )
    assert len(plans) == 2
    assert not any("Relation" in plan for plan in plans), plans
