"""Per-layer report with its tracing overhead: runs a workload untraced
and traced on the same seed, prints the traced run's self-time table and
per-layer metrics, and, for every end-to-end metric, the untraced value,
the traced one and their difference (the tracing overhead).

    python3 perfbench/report.py --workload catalog_churn --seed 7
"""

from __future__ import annotations

import argparse
import sys

from steady import detail_of, load_benchmark, run_once


def main(argv=None) -> int:
    bench = load_benchmark()
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=[w["name"] for w in bench["workloads"]])
    p.add_argument("--seed", type=int, default=1)
    args = p.parse_args(argv)

    code0, res0, out0 = run_once(bench, args.workload, args.seed, trace=0)
    code1, res1, out1 = run_once(bench, args.workload, args.seed, trace=1)
    if code0 or code1 or not res0 or not res1:
        print(f"runs failed: untraced exit {code0}, traced exit {code1}")
        return 1
    lines = out1.strip().splitlines()
    start = next(i for i, line in enumerate(lines) if line.startswith("layer"))
    print("\n".join(lines[start:-2]))
    print()
    for name, m in sorted(res1["metrics"].items()):
        print(f"  {name:<34}{m['value']:>16.4f} {m['unit']}")
    traced = detail_of(out1).get("e2e", {})
    print(f"\ntracing overhead, {args.workload} seed {args.seed}:")
    print(f"  {'metric':<14}{'untraced':>12}{'traced':>12}{'overhead':>12}")
    for m in bench["end_to_end"]:
        a = res0["metrics"][m["name"]]["value"]
        b = traced.get(m["name"], float("nan"))
        print(f"  {m['name']:<14}{a:>12.4g}{b:>12.4g}{b - a:>+12.4g}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
