"""Smoke test: every workload once at a tiny size, untraced and traced.

    python3 perfbench/test_smoke.py        (or: python3 -m pytest perfbench/test_smoke.py)

Checks that each run exits 0, passes its output checks, and prints
exactly the metric names BENCHMARK.json declares, with their units.
Takes a few minutes at local[4].
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]


def _run(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "0.05"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def test_metric_names_match_benchmark_json():
    from workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        want = {m["name"]: m["unit"] for m in spec[key]}
        for w in WORKLOADS:
            res = _run(w, trace)
            assert set(res) == {"correct", "attempted", "failed", "metrics"}
            assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, (w, res)
            got = {n: m["unit"] for n, m in res["metrics"].items()}
            assert got == want, (w, trace, set(got) ^ set(want))


def test_refuses_without_the_program():
    """In a directory holding only the benchmark, the run must fail
    without printing a result."""
    import shutil
    import tempfile

    scratch = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(scratch, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=scratch) as d:
        shutil.copytree(HERE, os.path.join(d, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                            "tiles_dp_hotspot", "--seed", "1", "--seconds", "1",
                            "--trace", "0"], cwd=d, stdout=subprocess.PIPE,
                           stderr=subprocess.PIPE, text=True, timeout=180)
        assert p.returncode != 0 and not p.stdout.strip()


if __name__ == "__main__":
    test_refuses_without_the_program()
    test_metric_names_match_benchmark_json()
    print("perfbench smoke test: OK")
