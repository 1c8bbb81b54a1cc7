"""Self-test of the benchmark at tiny input sizes (about four minutes).

    python3 perfbench/selftest.py

Runs every workload once untraced and once traced, and checks that each
run ends in one JSON line carrying every metric ``BENCHMARK.json``
declares, with its unit, and that no operation failed or gave a wrong
answer.  Then checks that the benchmark refuses to run, without printing
a result, in a directory that holds only ``BENCHMARK.json`` and the
benchmark's own files.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = os.path.join(HERE, "run.py")


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, RUN if cwd == ROOT else os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", "3", "--seconds", "2", "--trace", str(trace), "--tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def check_workload(workload: str, trace: int, declared: dict) -> list[str]:
    proc = _run(ROOT, workload, trace)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        return [f"{workload} trace={trace}: exit {proc.returncode}\n{proc.stderr[-2000:]}"]
    result, record = json.loads(lines[-1]), json.loads(lines[-2])["record"]
    problems = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"result keys {sorted(result)}")
    if not result["correct"] or result["failed"] != 0 or result["attempted"] < 1:
        problems.append(f"failed {result['failed']} of {result['attempted']}: {record['errors']}")
    if record["metrics"]["fail_ratio"]["value"] != 0:
        problems.append("fail_ratio is not 0")
    want = declared["per_layer" if trace else "end_to_end"]
    for m in want:
        got = result["metrics"].get(m["name"])
        if got is None or got.get("unit") != m["unit"] or not isinstance(got.get("value"), (int, float)):
            problems.append(f"metric {m['name']}: {got}")
    if len(result["metrics"]) != len(want):
        problems.append(f"{len(result['metrics'])} metrics printed, {len(want)} declared")
    return [f"{workload} trace={trace}: {p}" for p in problems]


def check_refuses_without_library() -> list[str]:
    bare = os.path.join(HERE, ".work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns(".work", ".out", "__pycache__"))
    try:
        proc = _run(bare, "batch", 0)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if proc.returncode == 0 or proc.stdout.strip():
        return [f"bare directory: exit {proc.returncode}, stdout {proc.stdout[-200:]!r}"]
    return []


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)
    problems = check_refuses_without_library()
    for workload in [w["name"] for w in declared["workloads"]]:
        for trace in (0, 1):
            problems += check_workload(workload, trace, declared)
    for p in problems:
        print("FAIL", p)
    print("selftest:", "ok" if not problems else f"{len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
