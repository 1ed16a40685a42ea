"""Benchmark entry point: one seeded, closed-loop run of one workload.

    python3 perfbench/run.py --workload etl_waves --seed 1 --seconds 8 --trace 0

Generates the seeded inputs (cached), then runs the workload in a fresh
child process with a pinned Spark environment, checks the outputs, prints
one report line per metric and, as the last line, the JSON result:
end-to-end metrics with ``--trace 0``, per-layer metrics with ``--trace 1``.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
INPUTS = {"etl_waves": ("events",), "corpus_curation": ("documents", "embeddings")}
END_TO_END = {"setup_s": "s", "peak_used_mb": "MB", "unit_cpu_s": "s", "items_per_cpu_s": "1/s"}
CHILD_TIMEOUT_S = 160


def pinned_env() -> dict:
    """The session environment every run uses, echoed in the output."""
    cpus = len(os.sched_getaffinity(0))
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    tmp = os.path.join(WORK, "tmp")
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        # get_spark defaults to 32g; stay well below host RAM
        "SPARK_GRAFT_DRIVER_MEM": f"{min(1536, ram_mb // 4)}m",
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join([ROOT, HERE]),
    }


def spark_conf(env: dict) -> dict:
    """Settings the benchmark adds to get_spark's own: no console progress
    bar, the JVM's temp files inside the checkout, and a heap fixed at its
    cap from the start. A growable heap left G1's expansion, which follows
    GC timing, to set how often the young generation is collected: CPU per
    unit then spread 0.10-0.17 across seeds, against 0.05-0.08 fixed."""
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={env['TMPDIR']} -XX:-UsePerfData -Xms{env['SPARK_GRAFT_DRIVER_MEM']}"),
    }


def percentile_tail(samples: list[float]) -> tuple[float | None, float | None]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; (None, None) below eleven samples."""
    s = sorted(samples)
    if len(s) < 11:
        return None, None
    i = len(s) - 11
    return s[i], 100.0 * i / (len(s) - 1)


# ---------------------------------------------------------------- child side


def _vm_hwm_mb(pid: int | str) -> float:
    """Peak resident memory of a process (``VmHWM``). Unlike ``ru_maxrss``,
    it restarts at exec, so the child's figure holds none of the parent's
    input generation."""
    with open(f"/proc/{pid}/status") as fh:
        return int(next(l for l in fh if l.startswith("VmHWM:")).split()[1]) / 1024


def _child(cfg: dict) -> dict:
    from kafka_etl_automation_spark.session import get_spark

    import checks
    import spans
    import workloads

    tracer = spans.Tracer(cfg["trace"])
    conf = spark_conf(os.environ)
    t0 = time.perf_counter()  # the session start: JVM launch + get_spark
    spark = get_spark("perfbench", extra_conf=conf)
    start_s = time.perf_counter() - t0
    if cfg["trace"]:
        tracer.spans.append(spans.Span("session.get_spark", t0, t0 + start_s, None,
                                       "setup", spans.Work()))
    tracer.attach(spark)
    unit_counter = spans.WorkCounter(spark)
    t0 = time.perf_counter()
    tracer.unit = "setup"
    w = workloads.WORKLOADS[cfg["workload"]](spark, tracer, cfg["inputs"], cfg["run_dir"], cfg["seed"])
    prep_s = time.perf_counter() - t0

    units, failed_units = [], set()

    def run_unit(uid, warmup: bool) -> bool:
        tracer.unit = uid
        w.unit_id = uid
        unit_counter.take()
        c = spans.group_cpu_s()
        t = time.perf_counter()
        try:
            kind, items, steps = w.unit()
        except Exception as exc:  # a failed operation is counted, not fatal
            import traceback

            traceback.print_exc()
            failed_units.add(uid)
            units.append({"id": uid, "kind": "failed", "warmup": warmup, "error": repr(exc)[:300]})
            return False
        wall = time.perf_counter() - t
        cpu = spans.group_cpu_s() - c
        units.append({"id": uid, "kind": kind, "warmup": warmup, "wall": wall, "cpu": cpu, "items": items,
                      "steps": steps, "jobs": unit_counter.take().jobs})
        return True

    # warm-up: cold first calls cost 1.3-2x warm ones
    t0 = time.perf_counter()
    ok = all(run_unit(f"warmup{i}", True) for i in range(w.warmup_units))
    warmup_s = time.perf_counter() - t0
    # a fixed number of whole rounds: the rounds --seconds holds at the
    # workload's nominal round time, so what a run measures does not
    # depend on how fast the code runs
    rounds = max(1, math.ceil(cfg["seconds"] / w.round_s))
    for i in range(rounds * w.round_units):
        ok = ok and run_unit(i, False)
    # peak memory of the workload, read before the checks add their own
    jvm_hwm_mb = _vm_hwm_mb(spark._jvm.java.lang.ProcessHandle.current().pid())
    driver_hwm_mb = _vm_hwm_mb("self")
    mf = spark._jvm.java.lang.management.ManagementFactory
    pools = {str(p.getName()): p.getPeakUsage().getUsed() / 2**20 for p in mf.getMemoryPoolMXBeans()}
    # eden fills to whatever size G1 gives it; the other pools hold what
    # the program keeps (old generation, survivors, classes, JIT code)
    kept_mb = sum(v for k, v in pools.items() if "Eden" not in k)
    threads = int(os.environ["SPARK_GRAFT_CPUS"])
    results, extra = [], {}
    try:
        if cfg["workload"] == "etl_waves":
            results = checks.etl_checks(w, threads)
        else:
            results, extra["search_recall"] = checks.corpus_checks(
                w, threads, cfg["pinned_digests"], os.path.basename(cfg["inputs"]["documents"]))
    except Exception as exc:  # a check that cannot run fails the run
        results = [("checks_ran", False, repr(exc)[:300], None)]
    for name, passed, detail, uid in results:
        if not passed:
            failed_units.add(uid)
    layers = None
    if cfg["trace"]:
        import layers as layer_metrics

        layers = layer_metrics.per_layer(tracer, units, threads)
        tracer.dump(cfg["trace_file"])
    spark.stop()
    return {
        "start_s": start_s, "prep_s": prep_s, "warmup_s": warmup_s,
        "units": units, "failed_units": len(failed_units),
        "checks": [list(r[:3]) for r in results],
        "jvm_hwm_mb": jvm_hwm_mb, "driver_hwm_mb": driver_hwm_mb, "pools": pools, "kept_mb": kept_mb,
        "layers": layers, **extra,
    }


# --------------------------------------------------------------- parent side


def _kill_group(pgid: int) -> None:
    """Stop every process of the child's session (its JVM and Python
    workers included) and wait until none is left."""
    for sig, grace in ((None, 5.0), (signal.SIGTERM, 3.0), (signal.SIGKILL, 3.0)):
        if sig is not None:
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                return
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline:
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def _run_child(cfg: dict, env: dict, log_path: str) -> dict:
    # a terminated benchmark still stops the child's session (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), "--child", json.dumps(cfg)],
            stdout=subprocess.PIPE, stderr=log, env=env, cwd=ROOT, start_new_session=True,
            text=True,
        )
        try:
            out, _ = proc.communicate(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            _kill_group(proc.pid)
            proc.communicate()
            raise SystemExit(f"workload run exceeded {CHILD_TIMEOUT_S}s; log: {log_path}")
        finally:
            _kill_group(proc.pid)
    if proc.returncode != 0 or not out.strip():
        raise SystemExit(f"workload run failed (exit {proc.returncode}); log: {log_path}")
    return json.loads(out.strip().splitlines()[-1])


def _metrics(res: dict) -> tuple[dict, list[str]]:
    """End-to-end metrics and the report lines that print them all."""
    measured = [u for u in res["units"] if not u["warmup"] and u["kind"] != "failed"]
    fresh = [u for u in measured if u["kind"] == "unit"]
    items = sum(u["items"] for u in measured)
    cpu = sum(u["cpu"] for u in measured)
    m = {
        "setup_s": res["start_s"] + res["prep_s"] + res["warmup_s"],
        "peak_used_mb": res["kept_mb"] + res["driver_hwm_mb"],
        "unit_cpu_s": statistics.median(u["cpu"] for u in fresh) if fresh else float("nan"),
        "items_per_cpu_s": items / cpu if cpu else float("nan"),
    }
    lines = [f"{k} {v:.6g} {END_TO_END[k]}" for k, v in m.items()]
    walls = [u["wall"] for u in fresh]
    lines.append(f"unit_p50_s {statistics.median(walls) if walls else float('nan'):.6g} s "
                 f"(wall, n={len(walls)})")
    tail, p = percentile_tail(walls)
    lines.append(f"unit_tail_s {'n/a' if tail is None else f'{tail:.6g}'} s "
                 f"(p{0 if p is None else p:.0f}, n={len(walls)})")
    wall = sum(u["wall"] for u in measured)
    lines.append(f"items_per_s {items / wall if wall else float('nan'):.6g} 1/s (wall)")
    attempted = len(res["units"])
    lines.append(f"error_rate {res['failed_units'] / max(1, attempted):.6g} ratio "
                 f"({res['failed_units']} of {attempted} operations)")
    reruns = [u["wall"] for u in measured if u["kind"] == "rerun"]
    if reruns:
        lines.append(f"rerun_p50_s {statistics.median(reruns):.6g} s (n={len(reruns)})")
    for key in ("decon_s", "dedup_s", "ivf_build_s", "search_s"):
        vals = [u["steps"][key] for u in measured if key in u["steps"]]
        if vals:
            lines.append(f"{key} {statistics.median(vals):.6g} s (n={len(vals)})")
    if "search_recall" in res:
        lines.append(f"search_recall {res['search_recall']:.6g} ratio (recall@5 vs exact top-5)")
    lines.append("jobs_per_unit " + " ".join(
        f"{u['id']}:{u['kind']}={u['jobs']}" for u in res["units"] if u["kind"] != "failed"))
    lines.append(f"peak_rss_mb {res['jvm_hwm_mb'] + res['driver_hwm_mb']:.6g} MB "
                 f"(JVM VmHWM + driver VmHWM; the fixed heap is all resident)")
    lines.append(f"session_start_s {res['start_s']:.3f}; warmup_s "
                 f"{res['warmup_s']:.3f}; jvm_hwm_mb {res['jvm_hwm_mb']:.1f}; "
                 f"driver_hwm_mb {res['driver_hwm_mb']:.1f}")
    lines.append("jvm_pool_peak_used_mb " + " ".join(
        f"{k.replace(' ', '_')}={v:.1f}" for k, v in res["pools"].items()))
    return m, lines


def main(argv: list[str]) -> int:
    if argv[:1] == ["--child"]:
        print(json.dumps(_child(json.loads(argv[1]))))
        return 0
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(INPUTS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seed < 0:
        ap.error("--seed must be a non-negative integer")
    if not os.path.isfile(os.path.join(ROOT, "kafka_etl_automation_spark", "session.py")):
        print("perfbench: the engine package kafka_etl_automation_spark is not beside "
              "perfbench/; run from a full checkout", file=sys.stderr)
        return 2
    env = pinned_env()
    for d in ("tmp", "spark-local", "cache", "runs", "logs", "traces"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    child_env = dict(os.environ, **env)
    import gen  # the parent's memory is not measured; the child's is

    inputs = {kind: gen.generate(os.path.join(WORK, "cache"), kind, args.seed,
                                 int(env["SPARK_GRAFT_CPUS"]))
              for kind in INPUTS[args.workload]}
    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(WORK, "runs", tag)
    cfg = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": bool(args.trace), "inputs": inputs, "run_dir": run_dir,
        "trace_file": os.path.join(WORK, "traces", f"{tag}.jsonl"),
        "pinned_digests": os.path.join(HERE, "digests.json"),
    }
    try:
        res = _run_child(cfg, child_env, os.path.join(WORK, "logs", f"{tag}.log"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print("env " + " ".join(f"{k}={v}" for k, v in env.items() if k != "PYTHONPATH"))
    for name, passed, detail in res["checks"]:
        print(f"check {name} {'PASS' if passed else 'FAIL'} {detail}")
    e2e, lines = _metrics(res)
    for line in lines:
        print(line)
    if args.trace:
        metrics = res["layers"]
        for k, (v, unit) in metrics.items():
            print(f"layer {k} {v:.6g} {unit}")
    else:
        metrics = {k: (v, END_TO_END[k]) for k, v in e2e.items()}
    correct = res["failed_units"] == 0 and all(r[1] for r in res["checks"])
    print(json.dumps({
        "correct": correct,
        "attempted": len(res["units"]),
        "failed": res["failed_units"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
