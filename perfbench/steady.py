"""Steadiness check: run each workload repeatedly, one seed per run,
and print for every end-to-end metric its median, quartiles and spread
(interquartile range / median) against the bound in BENCHMARK.json.

    python3 perfbench/steady.py [--runs 10] [--first-seed 1] [--trace]

Run from the checkout root. ``--trace`` adds one traced run per
workload after the untraced ones, which also writes the layer table
with the tracing overhead. Results go to
``.perfbench_out/steady_<workload>.json``; exits 1 when any spread
exceeds its bound, or a run fails its checks.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import out_dir  # noqa: E402


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} failed:\n{proc.stderr[-2000:]}")
    result = json.loads(lines[-1])
    # the host's CPU steal share during the run, from its record: the
    # usual cause when one run reads far from the others
    with open(os.path.join(out_dir(os.getcwd()), f"{workload}_trace{trace}.json")) as fh:
        result["host_steal_pct"] = json.load(fh)["info"]["host_steal_pct"]
    return result


def main(argv=None) -> int:
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    p = argparse.ArgumentParser()
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--trace", action="store_true")
    args = p.parse_args(argv)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    bad = False
    for workload in [w["name"] for w in bench["workloads"]]:
        results = []
        for i in range(args.runs):
            seed = args.first_seed + i
            r = run_once(workload, seed, bench["run_seconds"], 0)
            results.append({"seed": seed, **r})
            print(f"{workload} seed {seed}: correct={r['correct']} attempted={r['attempted']} "
                  f"failed={r['failed']} host_steal={r['host_steal_pct']:.1f}%", file=sys.stderr)
            bad |= not r["correct"] or r["failed"] > 0
        if args.trace:
            r = run_once(workload, args.first_seed, bench["run_seconds"], 1)
            results.append({"seed": args.first_seed, "trace": 1, **r})
        print(f"\n{workload}: {args.runs} runs, seeds {args.first_seed}..{args.first_seed + args.runs - 1}")
        print(f"{'metric':16s} {'unit':6s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>7s} {'bound':>6s}")
        for name, bound in bounds.items():
            vals = [r["metrics"][name]["value"] for r in results if "trace" not in r]
            unit = results[0]["metrics"][name]["unit"]
            q1, _q2, q3 = statistics.quantiles(vals, n=4)
            med = statistics.median(vals)
            spread = (q3 - q1) / med if med else float("inf")
            flag = "" if spread <= bound / 3 else (" above bound/3" if spread <= bound else " ABOVE BOUND")
            bad |= spread > bound
            print(f"{name:16s} {unit:6s} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:7.3f} {bound:6.2f}{flag}")
        with open(os.path.join(out_dir(os.getcwd()), f"steady_{workload}.json"), "w") as fh:
            json.dump(results, fh, indent=1)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
