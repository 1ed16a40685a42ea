"""The benchmark workloads, each a closed loop of units.

A unit starts when the previous one returns. Every call into the engine
goes through ``Tracer.span`` under the engine function's own name, so a
traced run attributes time and Spark work to the layer that was called;
nothing is recorded inside the engine. The output checks (checks.py) run
after the units and issue no Spark job, so traced and untraced runs issue
the same jobs.

- ``EtlWaves``: a unit is one arrival -> Type-2 dimension wave, or a rerun
  that replays an earlier wave under its original run ids.
- ``CorpusCuration``: a unit is one pass: canonical LSH decontamination,
  canonical dedup keep-list, IVF build and one query batch.
"""

from __future__ import annotations

import os
import random
import shutil
import time

import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_etl_automation_spark import io as kio
from kafka_etl_automation_spark import scd
from kafka_etl_automation_spark.control import JobRegistry
from kafka_etl_automation_spark.operators import curation, dedup, similarity
from kafka_etl_automation_spark.streaming import ingest
from kafka_etl_automation_spark.transform import incremental_load

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def _dir_stats(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``: file-system accounting, no Spark job."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


def _parquet_rows(path: str) -> int:
    """Row count from parquet footers (no Spark job)."""
    n = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet"):
                n += pq.ParquetFile(os.path.join(root, name)).metadata.num_rows
    return n


class EtlWaves:
    """arrival -> bronze -> conformed -> staging -> Type-2 user dimension."""

    warmup_units = 2  # a fresh wave and a rerun
    round_units = 2  # measured units come in rerun + fresh pairs
    round_s = 6.0  # nominal round time on 4 cores; a run measures ceil(seconds / round_s) rounds

    def __init__(self, spark, tracer, inputs: dict, root: str, seed: int):
        self.spark, self.t, self.inputs = spark, tracer, inputs["events"]
        self.units = 0
        self.unit_id = None  # set by the runner before each unit
        self.rng = random.Random(seed)
        d = {k: os.path.join(root, k) for k in (
            "src", "bronze", "audit", "ckpt", "conformed", "staging", "dq_audit", "dims", "ctl")}
        self.d = d
        os.makedirs(d["src"])
        with self.t.span("control.JobRegistry"):
            self.reg = JobRegistry(spark, d["ctl"])
        self.waves: list[dict] = []  # fresh waves, in order
        self.next_wave = 0
        self.next_batch = 0
        self.dim_path: str | None = None

    def unit(self) -> tuple[str, int, dict]:
        """Fresh waves and reruns alternate, starting fresh, rerun (the
        warm-up pair), then rerun, fresh, ...; which earlier wave a rerun
        replays is seeded."""
        self.units += 1
        if self.units == 1 or (self.units > 2 and self.units % 2 == 0):
            return "unit", self._wave(), {}
        return "rerun", self._rerun(self.rng.choice(self.waves)), {}

    def _wave(self) -> int:
        spark, t, d = self.spark, self.t, self.d
        k = self.next_wave
        self.next_wave += 1
        wave_dir = os.path.join(self.inputs, f"wave={k:03d}")
        date = f"2024-{1 + k // 28:02d}-{1 + k % 28:02d}"
        with t.span("control.JobRegistry"):
            run = self.reg.start_run("conform_job")
        for f in sorted(os.listdir(wave_dir)):  # the wave's files land
            shutil.copyfile(os.path.join(wave_dir, f), os.path.join(d["src"], f"w{k:03d}-{f}"))
        with t.span("streaming.ingest.run_file_ingest") as c:
            res = ingest.run_file_ingest(
                spark, d["src"], EVENTS_SCHEMA, d["bronze"], d["audit"], d["ckpt"],
                topic="events", run_id=run,
            )
            c.update(batches=res.n_batches, records=res.n_records)
        if t.enabled:
            t.count("streaming.ingest.checkpoint", *_dir_stats(d["ckpt"]))
        first_batch, self.next_batch = self.next_batch, self.next_batch + res.n_batches
        with t.span("streaming.ingest.checks"):
            audit = ingest.read_audit(spark, d["audit"])
            contiguous = ingest.contiguity_violations(audit, order_col="from_offset").isEmpty()
            cons = ingest.conservation_check(
                spark, audit.filter(F.col("batch_id") >= first_batch), res.bronze_dirs
            ).first()
        if not contiguous or cons.status != "PASS":
            raise RuntimeError(f"wave {k}: ingest audit failed ({contiguous}, {cons})")
        bronze = spark.read.parquet(*res.bronze_dirs)
        with t.span("io.write_conformed"):
            kio.write_conformed(bronze, d["conformed"], run_id=run,
                                source_file_name="events", create_date=date)
        with t.span("control.JobRegistry"):
            self.reg.finish_run("conform_job", run, status=1, records=res.n_records)
        conformed = spark.read.parquet(d["conformed"]).withColumn(
            "job_run_id", F.col("create_job_run_id"))
        with t.span("transform.incremental_load") as c:
            load = incremental_load(spark, self.reg, "staging_job", "conform_job", conformed,
                                    "job_run_id", d["staging"], audit_path=d["dq_audit"])
            c.update(records=load.records if load else 0)
        if load is None or not load.dq_passed or (load.window.min_run_id, load.window.max_run_id) != (run, run):
            raise RuntimeError(f"wave {k}: staging load failed ({load})")
        day = (
            scd.read_dim(spark, d["staging"])
            .filter(F.col("create_job_run_id") == load.run_id)
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
        )
        current = scd.read_dim(spark, self.dim_path) if self.dim_path else None
        with t.span("scd.scd_merge"):
            dim = scd.scd_merge(current, day, ["user_id"], "2", run_id=load.run_id)
        new_path = os.path.join(d["dims"], f"v{k:03d}")
        with t.span("scd.scd_merge.write") as c:
            dim.write.parquet(new_path)
        if t.enabled:
            c.update(dim_rows=_parquet_rows(new_path))
        if self.dim_path:
            shutil.rmtree(self.dim_path)
        self.dim_path = new_path
        self.waves.append({
            "wave": k, "run": run, "staging_run": load.run_id, "date": date,
            "records": res.n_records, "bronze_dirs": res.bronze_dirs, "unit": self.unit_id,
        })
        return res.n_records

    def _rerun(self, w: dict) -> int:
        """M3 delete-then-reload of an earlier wave under its original run
        ids: conformed and staging partitions are overwritten in place."""
        spark, t, d = self.spark, self.t, self.d
        with t.span("control.JobRegistry"):
            self.reg.mark_reprocess("conform_job", w["run"])
        bronze = spark.read.parquet(*w["bronze_dirs"])
        with t.span("io.write_conformed"):
            kio.write_conformed(bronze, d["conformed"], run_id=w["run"],
                                source_file_name="events", create_date=w["date"])
        batch = (
            spark.read.parquet(d["conformed"])
            .filter(F.col("create_job_run_id") == w["run"])
            .withColumn("job_run_id", F.col("create_job_run_id"))
        )
        with t.span("scd.append_run"):
            scd.append_run(batch, d["staging"], w["staging_run"])
        with t.span("control.JobRegistry"):
            self.reg.finish_run("conform_job", w["run"], status=1, records=w["records"])
        return w["records"]


class CorpusCuration:
    """One pass curates a corpus and refreshes its semantic index:

    1. ``curation.decontaminate_canonical_lsh`` with the boarded
       ``ext_decontamination_canonical_lsh`` parameters, forced to parquet;
    2. ``dedup.canonical_keep_list`` with the boarded
       ``ext_dedup_canonical_lsh`` pair source, forced to parquet;
    3. ``similarity.kmeans_centroids`` (the IVF build, the boarded
       ``ext_ivf_topk`` parameters), then the pass's 8-query batch through
       ``similarity.ivf_topk``, collected to the driver.
    """

    warmup_units = 0  # see README: the measured pass is the cold one
    round_units = 1
    round_s = 50.0  # nominal cold pass time on 4 cores

    def __init__(self, spark, tracer, inputs: dict, root: str, seed: int):
        self.spark, self.t, self.root = spark, tracer, root
        self.docs_path = os.path.join(inputs["documents"], "documents.parquet")
        self.emb_path = os.path.join(inputs["embeddings"], "embeddings.parquet")
        self.queries_path = os.path.join(inputs["embeddings"], "queries.parquet")
        self.n_docs = pq.ParquetFile(self.docs_path).metadata.num_rows
        self.passes = 0
        self.outputs: list[dict] = []

    def unit(self) -> tuple[str, int, dict]:
        spark, t = self.spark, self.t
        p = self.passes
        self.passes += 1
        steps = {}
        docs = spark.read.parquet(self.docs_path)
        out = {"keep": os.path.join(self.root, f"keep-{p:03d}"),
               "contam": os.path.join(self.root, f"contam-{p:03d}")}
        t0 = time.perf_counter()
        with t.span("curation.decontaminate_canonical_lsh"):
            contam = curation.decontaminate_canonical_lsh(docs, max_bucket=1000)
        with t.span("curation.decontaminate_canonical_lsh.write"):
            contam.write.parquet(out["contam"])
        t1 = time.perf_counter()
        with t.span("dedup.canonical_keep_list"):
            keep = dedup.canonical_keep_list(
                docs,
                pair_source=lambda reps: dedup.minhash_lsh_pairs(
                    reps, n=3, num_hashes=64, bands=16, threshold=0.5,
                    collapse_exact=False, candidate_scope="star", max_bucket=1000,
                ),
            )
        with t.span("dedup.canonical_keep_list.write"):
            keep.write.parquet(out["keep"])
        t2 = time.perf_counter()
        steps["decon_s"], steps["dedup_s"] = t1 - t0, t2 - t1
        emb = spark.read.parquet(self.emb_path)
        with t.span("similarity.kmeans_centroids"):
            cent = similarity.kmeans_centroids(emb, n_cells=16, iters=2, dim=64)
        t3 = time.perf_counter()
        steps["ivf_build_s"] = t3 - t2
        q = (spark.read.parquet(self.queries_path)
             .filter(F.col("batch") == p).select("query_id", "embedding"))
        with t.span("similarity.ivf_topk") as c:
            res = similarity.ivf_topk(emb, q, k=5, n_cells=16, n_probe=2,
                                      centroids=cent, dim=64)
        with t.span("similarity.ivf_topk.write"):
            rows = res.collect()
        steps["search_s"] = time.perf_counter() - t3
        c.update(queries=len({r.query_id for r in rows}))
        out["answers"] = [(r.query_id, r.neighbor_id) for r in rows]
        cent.unpersist()
        self.outputs.append(out)
        return "unit", self.n_docs, steps


WORKLOADS = {"etl_waves": EtlWaves, "corpus_curation": CorpusCuration}
