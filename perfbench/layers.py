"""Per-layer metrics from a traced run's spans.

A layer is an engine module's public function, named
``<module>.<function>`` with the module path under
``kafka_etl_automation_spark`` (``operators.`` dropped, so that every
metric name fits 64 characters); ``.write`` is the span that forces the lazy frame
the call returned. For each layer, over the measured (non-warm-up) units:

- ``wall_share``: the layer's span time as a share of the units' wall time
  (spans do not nest, so this is self time);
- ``cpu_share``: the CPU time of the run's processes during the layer's
  spans, as a share of the units' CPU time;
- ``jobs``, ``stages``, ``shuffle_bytes``: per unit that called the layer,
  median over those units;
- ``core_util``: executor task time / (span wall time x cores);
- layer counts (rows, bytes, ...), per unit, median.

A layer the workload never calls reports zeros.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

STD = (("wall_share", "%"), ("cpu_share", "%"), ("jobs", "count"), ("stages", "count"),
       ("core_util", "ratio"), ("shuffle_bytes", "B"))
LAYERS = {
    "streaming.ingest.run_file_ingest": (("batches", "count"), ("records", "count")),
    "streaming.ingest.checks": (),
    "io.write_conformed": (),
    "transform.incremental_load": (("records", "count"),),
    "scd.scd_merge": (),
    "scd.scd_merge.write": (("dim_rows", "count"),),
    "scd.append_run": (),
    "dedup.canonical_keep_list": (),
    "dedup.canonical_keep_list.write": (),
    "curation.decontaminate_canonical_lsh": (),
    "curation.decontaminate_canonical_lsh.write": (),
    "similarity.kmeans_centroids": (),
    "similarity.ivf_topk": (("queries", "count"),),
    "similarity.ivf_topk.write": (),
}


def _median(vals) -> float:
    vals = list(vals)
    return statistics.median(vals) if vals else 0


def per_layer(tracer, units: list[dict], cores: int) -> dict:
    measured = {u["id"]: u for u in units if not u["warmup"] and u["kind"] != "failed"}
    unit_wall = sum(u["wall"] for u in measured.values()) or 1.0
    unit_cpu = sum(u["cpu"] for u in measured.values()) or 1.0
    spans = [s for s in tracer.spans if s.unit in measured]
    out = {
        "session.get_spark.wall_s": (
            _median(s.end - s.start for s in tracer.spans if s.name == "session.get_spark"), "s"),
    }
    for layer, extras in LAYERS.items():
        per_unit: dict = defaultdict(lambda: defaultdict(float))
        for s in (s for s in spans if s.name == layer):
            u = per_unit[s.unit]
            u["wall"] += s.end - s.start
            u["cpu"] += s.cpu_s
            u["task_s"] += s.work.task_s
            for key in ("jobs", "stages", "shuffle_bytes"):
                u[key] += getattr(s.work, key)
            for key, _unit in extras:
                u[key] += s.counts.get(key, 0)
        wall = sum(u["wall"] for u in per_unit.values())
        task = sum(u["task_s"] for u in per_unit.values())
        vals = {
            "wall_share": 100.0 * wall / unit_wall,
            "cpu_share": 100.0 * sum(u["cpu"] for u in per_unit.values()) / unit_cpu,
            "core_util": task / (wall * cores) if wall else 0.0,
        }
        for key in ("jobs", "stages", "shuffle_bytes", *(k for k, _ in extras)):
            vals[key] = _median(u[key] for u in per_unit.values())
        for key, unit in (*STD, *extras):
            out[f"{layer}.{key}"] = (vals[key], unit)
    reg = [s for s in spans if s.name == "control.JobRegistry"]
    calls: dict = defaultdict(int)
    jobs: dict = defaultdict(int)
    for s in reg:
        calls[s.unit] += 1
        jobs[s.unit] += s.work.jobs
    out["control.JobRegistry.wall_share"] = (100.0 * sum(s.end - s.start for s in reg) / unit_wall, "%")
    out["control.JobRegistry.calls"] = (_median(calls.values()), "count")
    out["control.JobRegistry.jobs"] = (_median(jobs.values()), "count")
    ckpt = [s for s in spans if s.name == "streaming.ingest.checkpoint"]
    out["streaming.ingest.checkpoint.bytes"] = (ckpt[-1].counts["bytes"] if ckpt else 0, "B")
    out["streaming.ingest.checkpoint.files"] = (ckpt[-1].counts["files"] if ckpt else 0, "count")
    fresh = [u for u in measured.values() if u["kind"] == "unit"]
    out["trace.unit_p50_s"] = (_median(u["wall"] for u in fresh), "s")
    out["trace.unit_cpu_s"] = (_median(u["cpu"] for u in fresh), "s")
    out["trace.unit_jobs"] = (_median(u["jobs"] for u in fresh), "count")
    out["trace.overhead_s"] = (tracer.overhead_s / max(1, len(units)), "s")
    return out
