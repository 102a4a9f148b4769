"""Process telemetry, layer spans and Spark event-log task metrics.

Spans are kept in memory and written out once, at the end of a traced
run.  Each span sets the Spark job description to its path
("fresh/prep"), so the task metrics of every Spark job it launches can
be grouped by span from the event log after the session has stopped.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time

from pyspark.sql import DataFrame

from bench import proc_tree_cpu_sec  # the frozen harness's /proc reader


# ---------------------------------------------------------------------------
# Python-worker memory
# ---------------------------------------------------------------------------

def _descendants(root: int) -> list:
    children: dict = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read()
        except OSError:
            continue
        children.setdefault(int(st[st.rindex(")") + 2:].split()[1]), []).append(int(d))
    out, stack = [], [root]
    while stack:
        for c in children.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def python_workers() -> list:
    """pids of the Python processes Spark forked under this driver."""
    me = os.getpid()
    out = []
    for p in _descendants(me):
        try:
            with open(f"/proc/{p}/comm") as f:
                if f.read().startswith("python"):
                    out.append(p)
        except OSError:
            continue
    return out


def reset_worker_peaks() -> None:
    """Reset every worker's peak RSS (VmHWM) so the next reading covers
    only what runs after this call."""
    for p in python_workers():
        try:
            with open(f"/proc/{p}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            continue


def peak_worker_rss_mb() -> float:
    """Highest VmHWM of any live Python worker, in MB."""
    peak = 0
    for p in python_workers():
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]))
                        break
        except OSError:
            continue
    return peak / 1024.0


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list = []
        self._stack: list = []
        self._cached: list = []
        self.calls: dict = {}

    @contextlib.contextmanager
    def span(self, name: str):
        path = "/".join(self._stack + [name])
        rec = {"name": name, "path": path,
               "parent": "/".join(self._stack) or None}
        self._stack.append(name)
        self.sc.setJobDescription(path)
        c0, t0 = proc_tree_cpu_sec(), time.perf_counter()
        try:
            yield rec
        finally:
            rec["start"] = t0
            rec["end"] = time.perf_counter()
            rec["cpu_s"] = proc_tree_cpu_sec() - c0
            self._stack.pop()
            self.sc.setJobDescription("/".join(self._stack) or None)
            self.spans.append(rec)

    def materialize(self, df: DataFrame) -> DataFrame:
        """Cache and count, so the span holds this layer's work only."""
        df = df.persist()
        df.count()
        self._cached.append(df)
        return df

    def wrap(self, owner, attr: str, name: str, materialize: bool = True):
        """Replace ``owner.attr`` by a spanned call; returns an undo."""
        fn = getattr(owner, attr)

        def spanned(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
                if materialize and isinstance(out, DataFrame):
                    out = self.materialize(out)
            self.calls.setdefault(name, []).append(out)
            return out

        setattr(owner, attr, spanned)
        return lambda: setattr(owner, attr, fn)

    def record(self, owner, attr: str, name: str):
        """Record the results of ``owner.attr`` calls without a span."""
        fn = getattr(owner, attr)

        def recorded(*args, **kwargs):
            out = fn(*args, **kwargs)
            self.calls.setdefault(name, []).append(out)
            return out

        setattr(owner, attr, recorded)
        return lambda: setattr(owner, attr, fn)

    def release(self) -> None:
        for df in self._cached:
            df.unpersist()
        self._cached.clear()

    # -- queries over finished spans ------------------------------------
    def find(self, path: str) -> list:
        return [s for s in self.spans if s["path"] == path]

    def busy(self, path: str) -> float:
        return sum(s["end"] - s["start"] for s in self.find(path))

    def cpu(self, path: str) -> float:
        return sum(s["cpu_s"] for s in self.find(path))

    def self_time(self, path: str) -> float:
        kids = [s for s in self.spans if s["parent"] == path]
        return self.busy(path) - sum(s["end"] - s["start"] for s in kids)

    def job_metrics(self, roots: list) -> dict:
        """Traced job time over the top-level spans ``roots``, and the
        share of it that layer spans account for: a root with children
        counts only what its children cover (its own remainder is
        unattributed driver glue); a root without children is a layer."""
        job = sum(self.busy(r) for r in roots)
        covered = sum(self.busy(r) - self.self_time(r)
                      if any(s["parent"] == r for s in self.spans) else self.busy(r)
                      for r in roots)
        return {"trace.job_s": job, "trace.span_cover": covered / job if job else 0.0}


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

def eventlog_conf(log_dir: str) -> str:
    """spark-submit flags that turn on an uncompressed, unrolled event
    log (passed through PYSPARK_SUBMIT_ARGS, outside the program)."""
    return (f"--conf spark.eventLog.enabled=true "
            f"--conf spark.eventLog.dir=file://{log_dir} "
            f"--conf spark.eventLog.compress=false "
            f"--conf spark.eventLog.rolling.enabled=false")


def stage_metrics(log_dir: str) -> dict:
    """{job description: {stage id: [task records]}} from the (single,
    finished) event log in ``log_dir``."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*"))
             if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
    stage_desc: dict = {}
    out: dict = {}
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                for sid in ev.get("Stage IDs", []):
                    stage_desc.setdefault(sid, desc)
            elif kind == "SparkListenerTaskEnd":
                info = ev.get("Task Info") or {}
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                desc = stage_desc.get(ev["Stage ID"], "")
                out.setdefault(desc, {}).setdefault(ev["Stage ID"], []).append({
                    "run_ms": m.get("Executor Run Time", 0),
                    "cpu_ns": m.get("Executor CPU Time", 0),
                    "wall_ms": info.get("Finish Time", 0) - info.get("Launch Time", 0),
                    "retry": int(info.get("Attempt", 0) > 0 or info.get("Failed", False)),
                    "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                    "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    "spill": m.get("Disk Bytes Spilled", 0),
                })
    return out


def span_spark(stages: dict, prefix: str | None = None) -> dict:
    """Task totals of every job whose description is ``prefix`` or
    below it (every job when None), plus the skew (max / median task
    run time) of the longest stage described exactly ``prefix``."""
    tasks = [t for desc, by_stage in stages.items()
             if prefix is None or desc == prefix or desc.startswith(prefix + "/")
             for ts in by_stage.values() for t in ts]
    longest = max((ts for desc, by_stage in stages.items()
                   if desc == prefix for ts in by_stage.values()),
                  key=lambda ts: sum(t["run_ms"] for t in ts), default=[])
    runs = [t["run_ms"] for t in longest]
    med = statistics.median(runs) if runs else 0
    return {
        "tasks": len(tasks),
        "retries": sum(t["retry"] for t in tasks),
        "shuffle_bytes": sum(t["shuffle_write"] for t in tasks),
        "spill_bytes": sum(t["spill"] for t in tasks),
        "jvm_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
        "task_skew": (max(runs) / med) if med else (1.0 if runs else 0.0),
        "stage_tasks": len(longest),
    }
