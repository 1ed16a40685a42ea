"""Self-test of the benchmark's Spark work counter (spans.WorkCounter).

    python3 perfbench/selftest.py

Pins the two facts the counter's design rests on, on the installed Spark:

1. Around a 4-file ``run_file_ingest`` (one micro-batch per file), the
   status store sees every job, while ``statusTracker().getJobIdsForGroup()``
   without an argument misses the micro-batch jobs: they run under the
   streaming query's own job group.
2. ``ExecutorSummary.totalDuration`` is not task time: around a CPU-bound
   job on every core it reads far less than the stages' summed
   ``executorRunTime``, which the counter uses.

Exits 0 when both hold, 1 otherwise.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

import run


def main() -> int:
    env = run.pinned_env()
    os.environ.update(env)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run.WORK, d), exist_ok=True)
    sys.path.insert(0, run.ROOT)
    from kafka_etl_automation_spark.session import get_spark
    from kafka_etl_automation_spark.streaming import ingest

    import spans

    spark = get_spark("perfbench-selftest", extra_conf=run.spark_conf(env))
    sc = spark.sparkContext
    cores = int(env["SPARK_GRAFT_CPUS"])
    failures = 0
    root = tempfile.mkdtemp(prefix="selftest-", dir=env["TMPDIR"])
    try:
        events = spark.range(0, 4000).selectExpr(
            "id AS event_id", "CAST(id % 97 AS BIGINT) AS user_id", "'view' AS event_type")
        src = os.path.join(root, "src")
        events.repartitionByRange(4, "event_id").write.parquet(src)
        n_files = len([f for f in os.listdir(src) if f.endswith(".parquet")])

        counter = spans.WorkCounter(spark)
        tracked_before = set(sc.statusTracker().getJobIdsForGroup())
        res = ingest.run_file_ingest(
            spark, src, events.schema, os.path.join(root, "bronze"),
            os.path.join(root, "audit"), os.path.join(root, "ckpt"))
        work = counter.take()
        tracked = len(set(sc.statusTracker().getJobIdsForGroup()) - tracked_before)
        ok = res.n_batches == n_files and work.jobs >= tracked + res.n_batches
        failures += not ok
        print(f"{'PASS' if ok else 'FAIL'} ingest of {n_files} files, {res.n_batches} micro-batches: "
              f"status store saw {work.jobs} jobs, getJobIdsForGroup() saw {tracked}")

        store = sc._jsc.sc().statusStore()
        asjava = sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava

        def executor_duration_s() -> float:
            return sum(e.totalDuration() for e in asjava(store.executorList(True))) / 1000.0

        counter.take()
        before = executor_duration_s()
        spark.range(0, 60_000_000, numPartitions=cores * 4).selectExpr(
            "sum(hash(id, id * 7, id * 13)) AS h").collect()
        work = counter.take()
        total_duration = executor_duration_s() - before
        # one core: task time and wall time coincide, nothing to tell apart
        ok = cores < 2 or work.task_s > 1.5 * total_duration
        failures += not ok
        print(f"{'PASS' if ok else 'FAIL'} CPU-bound job on {cores} cores: stages ran "
              f"{work.task_s:.2f} s of tasks, ExecutorSummary.totalDuration grew {total_duration:.2f} s")
    finally:
        spark.stop()
        shutil.rmtree(root, ignore_errors=True)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
