"""Closed-loop benchmark of the geo pipeline, curation and spatial joins.

    python3 perfbench/run.py --workload tiles_sherbend_uniform --seed 1 \\
        --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 20

One client, one job at a time: after set-up (Spark session, seeded
inputs, one reference run and one warm-up job) the workload's job runs
again and again for ``--seconds``, every sample's output is checked,
and the last stdout line is one JSON object with the end-to-end metrics
(``--trace 0``) or the per-layer metrics of one traced run
(``--trace 1``).  A per-sample table with host telemetry goes to
stderr; each run's record is kept under .perfbench_work/records/.
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "job_s": "s", "items_per_s": "1/s", "cpu_s": "CPU-s", "setup_s": "s",
    "peak_worker_rss_mb": "MB", "ok_share": "ratio",
}
PER_LAYER = {
    "sources.scan_s": "s", "sources.rows_in": "count",
    "prep.busy_s": "s", "prep.cpu_s": "CPU-s", "prep.geoms": "count",
    "prep.covered_rows": "count", "prep.halo_ratio": "ratio",
    "salt.busy_s": "s", "salt.rows_out": "count", "salt.replication": "ratio",
    "salt.hot_cells": "count", "salt.max_tile_rows": "count",
    "kernel_stage.busy_s": "s", "kernel_stage.cpu_s": "CPU-s", "kernel_stage.tasks": "count",
    "kernel_stage.task_skew": "ratio", "kernel_stage.shuffle_bytes": "bytes",
    "kernel_stage.spill_bytes": "bytes", "kernel_stage.rows_in": "count",
    "kernel_stage.geoms_out": "count", "kernel_stage.useful_share": "ratio",
    "kernel_stage.overhead_ratio": "ratio",
    "kernel.cpu_s": "CPU-s", "kernel.us_per_vertex": "us", "kernel.v_in": "count",
    "kernel.v_out": "count", "kernel.bends_reduced": "count",
    "sink.write_s": "s", "sink.bytes": "bytes", "manifest.append_s": "s",
    "manifest.read_s": "s", "resume.s": "s", "resume.pruned_share": "ratio",
    "dedup.busy_s": "s", "dedup.cpu_s": "CPU-s", "dedup.candidate_pairs": "count",
    "dedup.precision": "ratio", "dedup.recall_planted": "ratio",
    "dedup.shuffle_bytes": "bytes",
    "curation.busy_s": "s", "curation.docs_kept": "count", "curation.checkpointed": "count",
    "pip.busy_s": "s", "pip.candidates": "count", "pip.precision": "ratio",
    "knn.busy_s": "s", "knn.candidates_per_query": "count",
    "raster.busy_s": "s", "raster.cells": "count",
    "spark.tasks": "count", "spark.task_retries": "count", "spark.shuffle_bytes": "bytes",
    "trace.job_s": "s", "trace.untraced_job_s": "s", "trace.overhead_s": "s",
    "trace.span_cover": "ratio",
}
CORES = 4  # local[N]; capped at the CPUs this process may use
MIN_SAMPLES = 3
# jobs run after the reference run and before the samples, so that the
# samples start near steady state
WARMUP_JOBS = 1
# Spark generates new classes for every query, so with the default
# tiered JIT the C2 compiler keeps working through every sample (1-6
# CPU-s per 4 s hotspot job at local[4] on a 4-vCPU VM) and a run's
# samples are still getting faster after a minute.  C1 alone compiles
# cheaply and levels off after the warm-up; the larger code cache keeps
# the sweeper from evicting what the earlier queries compiled.
JVM_OPTS = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=512m"


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size multiplier (the smoke test uses a small one)")
    return ap.parse_args(argv)


def steal_s() -> float:
    """Seconds of CPU the hypervisor gave to other guests (all CPUs)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def highest_percentile(n: int):
    """Highest percentile with at least ten samples beyond it."""
    for p in (99, 95, 90, 75, 50):
        if n * (100 - p) / 100 >= 10:
            return p
    return None


def run_all(args) -> int:
    """Run every workload in its own process and print one table."""
    from workloads import WORKLOADS
    rows, code = [], 0
    for w in WORKLOADS:
        cmd = [sys.executable, __file__, "--workload", w, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace),
               "--scale", str(args.scale)]
        p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode or not lines:
            print(f"{w}: exit {p.returncode}", file=sys.stderr)
            code = 1
            continue
        res = json.loads(lines[-1])
        rows.append((w, res))
    for w, res in rows:
        print(f"== {w}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} fail_share={res['failed'] / res['attempted']:.3f}")
        for name, m in res["metrics"].items():
            print(f"   {name:32s} {m['value']:>16.6g} {m['unit']}")
    print(json.dumps({w: res for w, res in rows}))
    return code


def main(argv=None) -> int:
    args = parse_args(argv)
    # on SIGTERM unwind through the finally blocks: stop Spark, wait for
    # its processes, delete the work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "geo_sim_processing_a_spark")) \
            or not os.path.isfile(os.path.join(ROOT, "bench.py")):
        print(f"perfbench: no program to measure under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    if args.workload == "all":
        return run_all(args)

    cores = min(CORES, len(os.sched_getaffinity(0)))
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    records = os.path.join(ROOT, ".perfbench_work", "records")
    for d in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.makedirs(records, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    submit = f"--driver-java-options '-Djava.io.tmpdir={work}/tmp {JVM_OPTS}'"
    if args.trace:
        from tracing import eventlog_conf
        submit += " " + eventlog_conf(os.path.join(work, "eventlog"))
    os.environ["PYSPARK_SUBMIT_ARGS"] = submit + " pyspark-shell"
    try:
        return measure(args, cores, work, records)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and the Python workers it
    forked) to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    if gateway is None:  # already stopped
        return
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the launcher exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def measure(args, cores, work, records) -> int:
    import bench
    import workloads as W
    from geo_sim_processing_a_spark.plans.session import get_spark

    wl = W.make(args.workload, args.scale)
    log = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
           "cores": cores, "dram_gbps_before": bench.dram_probe(),
           "loadavg_before": os.getloadavg()[0]}

    # ---- set-up: session, inputs, reference run and warm-up jobs -----
    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=cores)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    try:
        return run_session(args, cores, work, records, wl, log, spark, session_s)
    finally:
        stop_spark(spark)


def run_session(args, cores, work, records, wl, log, spark, session_s) -> int:
    import bench
    from tracing import (Tracer, peak_worker_rss_mb, python_workers, reset_worker_peaks,
                         span_spark, stage_metrics)

    from bench import proc_tree_cpu_sec

    t = time.perf_counter()
    wl.make_inputs(spark, args.seed, os.path.join(work, "inputs"), cores)
    gen_s = time.perf_counter() - t
    t = time.perf_counter()
    wl.warm_up(spark, os.path.join(work, "reference"))
    for i in range(WARMUP_JOBS):
        out = os.path.join(work, f"warm-up{i}")
        wl.job(spark, out)
        shutil.rmtree(out, ignore_errors=True)
    warmup_s = time.perf_counter() - t
    setup_s = session_s + gen_s + warmup_s
    log.update(session_s=session_s, gen_s=gen_s, warmup_s=warmup_s, setup_s=setup_s)

    samples = []
    seen_workers = set(python_workers())

    def failure(e: Exception) -> list:
        traceback.print_exc(file=sys.stderr)
        lines = [ln.strip() for ln in str(e).splitlines() if ln.strip()]
        # a Python-worker error carries the worker's traceback: keep its
        # final "...Error: ..." line
        why = next((ln for ln in reversed(lines) if "Error" in ln), lines[0] if lines else "")
        return [f"{type(e).__name__}: {why[:300]}"]

    def sample(i: int) -> dict:
        out = os.path.join(work, f"out{i}")
        rec = {"i": i, "loadavg": os.getloadavg()[0]}
        reset_worker_peaks()
        steal0, c0, t0 = steal_s(), proc_tree_cpu_sec(), time.perf_counter()
        try:
            rec.update(wl.job(spark, out))
            rec["job_s"] = time.perf_counter() - t0
            rec["cpu_s"] = proc_tree_cpu_sec() - c0
            rec["steal_s"] = steal_s() - steal0
            rec["rss_mb"] = peak_worker_rss_mb()
            pids = set(python_workers())
            rec["workers"], rec["new_workers"] = len(pids), len(pids - seen_workers)
            seen_workers.update(pids)
            rec["fails"] = wl.check(spark, out, first=(i == 0))
        except Exception as e:  # noqa: BLE001 - a failed sample is counted, not fatal
            rec.setdefault("job_s", time.perf_counter() - t0)
            rec["fails"] = failure(e)
        shutil.rmtree(out, ignore_errors=True)
        samples.append(rec)
        return rec

    per_layer = tracer = None
    if not args.trace:
        # closed loop: start another sample only while it is expected
        # to end inside the window (and always reach MIN_SAMPLES)
        t_end = time.perf_counter() + args.seconds
        while len(samples) < MIN_SAMPLES or time.perf_counter() + statistics.median(
                s["job_s"] for s in samples) <= t_end:
            sample(len(samples))
    else:
        wl.make_trace_inputs(spark, args.seed, os.path.join(work, "trace-inputs"), cores)
        untraced = sample(0)
        tracer = Tracer(spark)
        rec = {"i": 1, "loadavg": os.getloadavg()[0]}
        try:
            per_layer, rec["fails"] = wl.traced(spark, tracer, os.path.join(work, "traced"))
        except Exception as e:  # noqa: BLE001 - reported as a failed sample
            rec["fails"] = failure(e)
        tracer.release()
        samples.append(rec)

    stop_spark(spark)  # flushes the event log
    log["dram_gbps_after"] = bench.dram_probe()
    log["loadavg_after"] = os.getloadavg()[0]

    attempted = len(samples)
    failed = sum(1 for s in samples if s["fails"])
    timed = [s for s in samples if "cpu_s" in s]
    if args.trace:
        metrics = {n: 0.0 for n in PER_LAYER}
        if per_layer is not None:
            metrics.update(per_layer)
            stages = stage_metrics(os.path.join(work, "eventlog"))
            total = span_spark(stages)
            metrics.update({"spark.tasks": total["tasks"],
                            "spark.task_retries": total["retries"],
                            "spark.shuffle_bytes": total["shuffle_bytes"]})
            metrics.update(wl.spark_layers(stages))
            if metrics["prep.geoms"]:
                metrics["prep.halo_ratio"] = metrics["prep.covered_rows"] / metrics["prep.geoms"]
            if "job_s" in untraced:
                metrics["trace.untraced_job_s"] = untraced["job_s"]
                metrics["trace.overhead_s"] = metrics["trace.job_s"] - untraced["job_s"]
            log["spans"] = tracer.spans
            log["stages"] = {d: {str(k): v for k, v in st.items()}
                             for d, st in stages.items()}
        units = PER_LAYER
    else:
        if not timed:
            print("perfbench: no sample completed", file=sys.stderr)
            for s in samples:
                print(f"  sample {s['i']}: {s['fails']}", file=sys.stderr)
            return 1
        metrics = {
            "job_s": statistics.median(s["job_s"] for s in timed),
            "items_per_s": statistics.median(s["items"] / s["job_s"] for s in timed),
            "cpu_s": statistics.median(s["cpu_s"] for s in timed),
            "setup_s": setup_s,
            "peak_worker_rss_mb": statistics.median(s["rss_mb"] for s in timed),
            "ok_share": (attempted - failed) / attempted,
        }
        units = END_TO_END
    log["samples"] = samples
    log["metrics"] = metrics

    report(args, log, timed, setup_s, attempted, failed)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json"
    with open(os.path.join(records, name), "w") as f:
        json.dump(log, f, indent=1, default=str)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {n: {"value": float(metrics[n]), "unit": u} for n, u in units.items()},
    }))
    return 0


def report(args, log, timed, setup_s, attempted, failed) -> None:
    """Human-readable summary on stderr: every sample with its host
    telemetry (none is dropped), then the medians and tail."""
    err = sys.stderr
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"cores={log['cores']} DRAM probe {log['dram_gbps_before']} -> "
          f"{log['dram_gbps_after']} GB/s, load {log['loadavg_before']:.2f} -> "
          f"{log['loadavg_after']:.2f}", file=err)
    print(f"  setup {setup_s:.3f} s (session {log['session_s']:.3f}, inputs "
          f"{log['gen_s']:.3f}, warm-up {log['warmup_s']:.3f})", file=err)
    for s in log["samples"]:
        extra = (f" steal_s={s['steal_s']:.3f}" if "steal_s" in s else "") + "".join(
            f" {k}={s[k]}" for k in ("workers", "new_workers") if k in s)
        print(f"  sample {s['i']}: job {s.get('job_s', float('nan')):.3f} s cpu "
              f"{s.get('cpu_s', float('nan')):.3f} rss {s.get('rss_mb', float('nan')):.1f} MB "
              f"load {s['loadavg']:.2f}{extra} {'OK' if not s['fails'] else s['fails']}",
              file=err)
    if timed and not args.trace:
        xs = sorted(s["job_s"] for s in timed)
        p = highest_percentile(len(xs))
        tail = (f"p{p} {statistics.quantiles(xs, n=100)[p - 1]:.3f} s" if p
                else f"max {xs[-1]:.3f} s (too few samples for a percentile)")
        print(f"  job_s median {statistics.median(xs):.3f} s, {tail}, n={len(xs)}", file=err)
    for name, v in log["metrics"].items():
        print(f"  {name:32s} {v:>16.6g}", file=err)
    print(f"  attempted {attempted}, failed {failed}, fail_share {failed / attempted:.3f}",
          file=err)


if __name__ == "__main__":
    sys.exit(main())
