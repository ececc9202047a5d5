#!/usr/bin/env python3
"""Fast self-test of the benchmark. Run from the repository root:

    python3 perfbench/selftest.py

Runs every workload's query list on the smallest fixture tier
(sf0.001), untraced and traced, and asserts that each run is
correct and prints exactly the metrics BENCHMARK.json names, each with
its unit. Then checks that the benchmark refuses to run, without
printing a result, in a directory holding only BENCHMARK.json and the
benchmark's own files. After every run, checks that the run left no
process behind. Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from run import become_subreaper  # noqa: E402


def _left_behind() -> list[int]:
    """Processes, zombies included, whose parent is this process: as a
    subreaper it adopts whatever a finished run left running."""
    me = os.getpid()
    left = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == me:
            left.append(int(pid))
    return left


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "0",
         "--seconds", "0", "--trace", str(trace), "--base", "sf0.001"],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )
    left = _left_behind()
    if left:
        sys.exit(f"{workload} trace={trace}: processes left behind: {left}")
    return r


def main() -> int:
    become_subreaper()
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    wanted = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    for w in (w["name"] for w in bench["workloads"]):
        for trace in (0, 1):
            r = _run(root, w, trace)
            if r.returncode != 0:
                sys.exit(f"{w} trace={trace}: exit {r.returncode}\n{r.stderr[-3000:]}")
            result = json.loads(r.stdout.strip().splitlines()[-1])
            if set(result) != {"correct", "attempted", "failed", "metrics"}:
                sys.exit(f"{w} trace={trace}: result keys {sorted(result)}")
            if not result["correct"] or result["failed"] or result["attempted"] < 1:
                detail = json.loads(r.stdout.strip().splitlines()[-2])
                sys.exit(f"{w} trace={trace}: not correct: {detail['failures']}")
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            if got != wanted[trace]:
                sys.exit(f"{w} trace={trace}: metrics {got} != {wanted[trace]}")
            for k, v in result["metrics"].items():
                if not isinstance(v["value"], (int, float)):
                    sys.exit(f"{w} trace={trace}: {k} value {v['value']!r}")
            print(f"ok {w} trace={trace}: {len(got)} metrics, attempted {result['attempted']}")

    bare = tempfile.mkdtemp(prefix="bare-", dir=os.path.join(root, ".perfbench"))
    try:
        shutil.copy(os.path.join(root, "BENCHMARK.json"), bare)
        for p in bench["paths"]:
            shutil.copytree(
                os.path.join(root, p), os.path.join(bare, p),
                ignore=shutil.ignore_patterns("__pycache__"),
            )
        r = _run(bare, bench["workloads"][0]["name"], 0)
        if r.returncode == 0 or r.stdout.strip():
            sys.exit(f"bare directory: exit {r.returncode}, stdout {r.stdout[-500:]!r}")
        print(f"ok bare directory refused with exit {r.returncode}")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
