"""Harness smoke test for the benchmark.

Usage (from the repository root)::

    python3 perfbench/smoke.py

Runs ``run.py`` at the ``smoke`` preset (sf0.001-sized tables, a
two-query mix, a 1,000-doc ETL backlog and exactly two timed cycles) on
every workload in ``BENCHMARK.json``, with tracing off and on. It
asserts that each run exits 0, that its output checks pass, and that
the result line carries every metric ``BENCHMARK.json`` names, with its
unit. It also asserts that the benchmark refuses to run, without a
result line, in a directory holding only ``BENCHMARK.json`` and the
benchmark's own files. Exits non-zero on the first failed assertion.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_bench(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "0", "--trace", str(trace), "--preset", "smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=600, check=False,
    )


def check(cond: bool, what: str, detail: str = "") -> None:
    if not cond:
        raise SystemExit(f"smoke: FAILED: {what}\n{detail}")
    print(f"smoke: ok: {what}", flush=True)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for workload in [w["name"] for w in spec["workloads"]]:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            proc = run_bench(ROOT, workload, trace)
            label = f"{workload} trace={trace}"
            check(proc.returncode == 0, f"{label} exits 0", proc.stderr[-4000:])
            lines = proc.stdout.strip().splitlines()
            result = json.loads(lines[-1])
            report = json.loads(lines[-2])["report"]
            check(result["correct"] and result["failed"] == 0,
                  f"{label} output checks pass {report['failures']}")
            check(set(result) == {"correct", "attempted", "failed", "metrics"},
                  f"{label} result keys")
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            want = {m["name"]: m["unit"] for m in spec[kind]}
            check(got == want, f"{label} prints every {kind} metric with its unit")
            if workload == "etl_changefeed":
                check(report["notes"]["timed_rounds"] == 2, f"{label} runs two cycles")

    bare = os.path.join(ROOT, ".perfbench", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for path in spec["paths"]:
            shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                            ignore=shutil.ignore_patterns("__pycache__"))
        proc = run_bench(bare, spec["workloads"][0]["name"], 0)
        check(proc.returncode != 0 and '"correct"' not in proc.stdout,
              "a directory without the package gives a non-zero exit and no result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
