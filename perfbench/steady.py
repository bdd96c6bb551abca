"""Steadiness mode: run each workload once per seed (untraced) and print,
for every end-to-end metric, its median, quartiles and quartile spread
as a share of the median, next to the metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py                       # seeds 1 2, all workloads
    python3 perfbench/steady.py --seeds 1 2 3 4 5 --workloads corpus_dedup
    python3 perfbench/steady.py --seeds 11 12 --save a.json
    python3 perfbench/steady.py --seeds 21 22 --against a.json

Every spread, ``setup_s``'s too, is held to its bound; the aim is a
spread under a third of it.  ``--save`` keeps the set's values and the
host's CPU probe readings; ``--against`` compares this set's medians
with a saved set's, metric by metric, and fails when one got worse by
more than its bound.  A comparison is only as good as the host: when
the median CPU probe of the two sets differs by more than
``PROBE_TOLERANCE``, the host's speed changed between them, and the
comparison is refused (exit 3) rather than read as a change of the
program.  Runs go one after another, never in parallel.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: largest share by which two sets' median CPU probes may differ for
#: their medians to be compared
PROBE_TOLERANCE = 0.10


def load_benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_once(bench: dict, workload: str, seed: int, trace: int = 0,
             extra: list[str] = ()) -> tuple[int, dict | None, str]:
    """One run of the BENCHMARK.json command; returns (exit code, parsed
    last line or None, full stdout)."""
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]),
                              "--trace", str(trace), *extra]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=600)
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    return proc.returncode, result, proc.stdout


def detail_of(stdout: str) -> dict:
    for line in reversed(stdout.strip().splitlines()):
        if line.startswith('{"detail"'):
            return json.loads(line)["detail"]
    return {}


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, (q3 - q1) / median), quartiles as
    ``statistics.quantiles(values, n=4)`` gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def worse_by(before: float, after: float, better: str) -> float:
    """How much worse ``after`` is than ``before``, as a share of
    ``before`` (negative when it is better)."""
    change = (after - before) / before
    return change if better == "lower" else -change


def compare(bench: dict, sets: dict, old: dict) -> int:
    """Print both sets' medians side by side; 0 when no metric got worse
    by more than its bound, 1 when one did, 3 when the host's speed
    changed between the sets."""
    code = 0
    for wl, cur in sets.items():
        if wl not in old:
            continue
        p_old = statistics.median(old[wl]["probe_ms"])
        p_cur = statistics.median(cur["probe_ms"])
        print(f"{wl}: saved set against this set "
              f"(CPU probe {p_old:.1f} ms -> {p_cur:.1f} ms)")
        print(f"  {'metric':<14}{'saved':>12}{'this':>12}{'worse by':>10}"
              f"{'bound':>8}")
        for m in bench["end_to_end"]:
            a = statistics.median(old[wl]["metrics"][m["name"]])
            b = statistics.median(cur["metrics"][m["name"]])
            w = worse_by(a, b, m["better"])
            flag = ""
            if w > m["bound"]:
                flag, code = "  OVER BOUND", max(code, 1)
            print(f"  {m['name']:<14}{a:>12.4g}{b:>12.4g}{w:>+10.3f}"
                  f"{m['bound']:>8}{flag}")
        if abs(p_cur - p_old) / p_old > PROBE_TOLERANCE:
            print(f"  host speed changed: CPU probe moved by more than "
                  f"{PROBE_TOLERANCE:.0%}; these medians are not comparable")
            code = 3
        print()
    return code


def main(argv=None) -> int:
    bench = load_benchmark()
    names = [w["name"] for w in bench["workloads"]]
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seeds", type=int, nargs="+", default=[1, 2])
    p.add_argument("--workloads", nargs="+", default=names, choices=names)
    p.add_argument("--save", help="write this set's values to a JSON file")
    p.add_argument("--against", help="compare with a set saved by --save")
    args = p.parse_args(argv)

    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    out_dir = os.path.join(ROOT, ".perfbench", "out")
    os.makedirs(out_dir, exist_ok=True)
    ok = True
    sets = {}
    for wl in args.workloads:
        values: dict[str, list[float]] = {m: [] for m in bounds}
        probes: list[float] = []
        for seed in args.seeds:
            code, res, out = run_once(bench, wl, seed)
            with open(os.path.join(out_dir, f"steady-{wl}-{seed}.txt"),
                      "w") as fh:
                fh.write(out)
            if code != 0 or not res or not res.get("correct"):
                print(f"{wl} seed {seed}: exit {code}, result {res}")
                ok = False
                continue
            for m in bounds:
                values[m].append(res["metrics"][m]["value"])
            probe = detail_of(out).get("host", {}).get("cpu_probe_ms", {})
            probes.append(statistics.median(probe.values()))
            print(f"{wl} seed {seed}: " + "  ".join(
                f"{m}={res['metrics'][m]['value']:.4g}" for m in bounds)
                + f"  cpu_probe_ms={probes[-1]:.1f}", flush=True)
        sets[wl] = {"seeds": args.seeds, "metrics": values, "probe_ms": probes}
        if len(values["setup_s"]) < 2:
            continue
        print(f"\n{wl}: {len(values['setup_s'])} runs, median CPU probe "
              f"{statistics.median(probes):.1f} ms")
        print(f"  {'metric':<14}{'median':>12}{'q1':>12}{'q3':>12}"
              f"{'spread':>9}{'bound':>8}")
        for m, vals in values.items():
            med, q1, q3, sp = spread(vals)
            flag = ""
            if sp > bounds[m]:
                flag, ok = "  OVER BOUND", False
            elif sp > bounds[m] / 3:
                flag = "  above bound/3"
            print(f"  {m:<14}{med:>12.4g}{q1:>12.4g}{q3:>12.4g}"
                  f"{sp:>9.3f}{bounds[m]:>8}{flag}")
        print()
    if args.save:
        with open(args.save, "w") as fh:
            json.dump(sets, fh, indent=1)
    code = 0 if ok else 1
    if args.against:
        with open(args.against) as fh:
            code = max(code, compare(bench, sets, json.load(fh)))
    return code


if __name__ == "__main__":
    sys.exit(main())
