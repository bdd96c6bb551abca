"""Self-test of the benchmark itself, at tiny sizes (a few minutes):

- every workload runs untraced and traced, exits 0, reports correct,
  and prints exactly the metrics BENCHMARK.json lists, as numbers;
- in a directory holding only BENCHMARK.json and the benchmark's files
  (no program to measure) the command exits non-zero without a result.

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

from steady import ROOT, load_benchmark, run_once


def check_run(bench: dict, workload: str, trace: int) -> list[str]:
    code, res, out = run_once(bench, workload, seed=1, trace=trace,
                              extra=["--size", "tiny"])
    where = f"{workload} trace={trace}"
    if code != 0 or res is None:
        return [f"{where}: exit {code}, last line {out.strip()[-300:]!r}"]
    errors = []
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"{where}: result keys {sorted(res)}")
    if res.get("correct") is not True or res.get("failed") != 0:
        errors.append(f"{where}: correct={res.get('correct')} "
                      f"failed={res.get('failed')}")
    want = {m["name"]: m["unit"]
            for m in bench["per_layer" if trace else "end_to_end"]}
    got = res.get("metrics", {})
    if set(got) != set(want):
        errors.append(f"{where}: metrics differ: missing "
                      f"{sorted(set(want) - set(got))}, extra "
                      f"{sorted(set(got) - set(want))}")
    for name, m in got.items():
        v = m.get("value")
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            errors.append(f"{where}: {name} = {v!r}")
        elif name in want and m.get("unit") != want[name]:
            errors.append(f"{where}: {name} unit {m.get('unit')!r}")
        elif not trace and v <= 0:
            errors.append(f"{where}: end-to-end {name} = {v}")
    return errors


def check_bare(bench: dict) -> list[str]:
    """The command must refuse to run without the program beside it."""
    bare = os.path.join(ROOT, ".perfbench", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for p in bench["paths"]:
        shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                        ignore=shutil.ignore_patterns("__pycache__"))
    name = bench["workloads"][0]["name"]
    cmd = bench["command"] + ["--workload", name, "--seed", "1", "--seconds",
                              "1", "--trace", "0"]
    try:
        proc = subprocess.run(cmd, cwd=bare, capture_output=True, text=True,
                              timeout=180)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    last = proc.stdout.strip().splitlines()[-1:] or [""]
    if proc.returncode == 0 or last[0].startswith("{"):
        return [f"bare directory: exit {proc.returncode}, last line {last[0]!r}"]
    return []


def main() -> int:
    bench = load_benchmark()
    errors = check_bare(bench)
    for w in bench["workloads"]:
        for trace in (0, 1):
            errors += check_run(bench, w["name"], trace)
            print(f"{w['name']} trace={trace}: done", flush=True)
    for e in errors:
        print("FAIL", e)
    print("selftest:", "FAIL" if errors else "PASS")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
