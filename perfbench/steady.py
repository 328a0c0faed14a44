"""Steadiness tool: repeat each workload and report, for every metric,
the run-to-run spread against the metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py --runs 10 --seed 100
    python3 perfbench/steady.py --workloads catalog_cold --runs 2 --trace 1 --same-seed

The spread is the distance between the first and third quartile of a
metric's values over the runs, as a share of their median
(``statistics.quantiles(values, n=4)``).  Runs use seeds ``seed``,
``seed+1``, ... unless ``--same-seed``; with ``--trace 1 --same-seed``
the tool also lists count metrics that did not repeat exactly.  Exits 1
when a run is incorrect or an end-to-end spread exceeds its bound.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.stats import median, quartile_spread  # noqa: E402


def run_once(workload, seed, seconds, trace) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                         timeout=600)
    if out.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {out.returncode}:\n"
                           f"{out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workloads", nargs="+",
                        default=[w["name"] for w in spec["workloads"]])
    parser.add_argument("--runs", type=int, default=10)
    parser.add_argument("--seed", type=int, default=100)
    parser.add_argument("--seconds", type=float, default=spec["run_seconds"])
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument("--same-seed", action="store_true")
    args = parser.parse_args(argv)

    declared = spec["per_layer" if args.trace else "end_to_end"]
    ok = True
    for workload in args.workloads:
        results = []
        for i in range(args.runs):
            seed = args.seed if args.same_seed else args.seed + i
            result = run_once(workload, seed, args.seconds, args.trace)
            results.append(result)
            print(f"{workload} seed={seed} correct={result['correct']} "
                  f"attempted={result['attempted']} failed={result['failed']}",
                  flush=True)
            ok &= result["correct"]
        print(f"\n{workload}: {args.runs} runs")
        print(f"{'metric':44} {'median':>12} {'spread':>8} {'bound':>6}")
        for m in declared:
            values = [r["metrics"][m["name"]]["value"] for r in results]
            spread = quartile_spread(values) if len(values) > 1 else 0.0
            bound = m.get("bound")
            flag = ""
            if bound is not None:
                flag = ("steady" if spread <= bound / 3
                        else "within" if spread <= bound else "WIDE")
                ok &= flag != "WIDE"
            elif args.same_seed and len(set(values)) > 1 and (
                    m["unit"] == "count"):
                flag = "count differs"
            print(f"{m['name']:44} {median(values):12.4f} {spread:8.3f} "
                  f"{'' if bound is None else bound:>6} {flag}")
        print(flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
