"""Benchmark entry point.

    python3 perfbench/run.py --workload {iot_ingest,analytics_batch} \\
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Builds its inputs from ``--seed``,
starts the program from source, measures (``iot_ingest`` for
``--seconds`` seconds; ``analytics_batch`` one fixed pass of its
rows), checks every answer, and prints one JSON object as the last line of
stdout: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics (from a
run with span wrappers installed) with ``--trace 1``.

Each run's full record (per-operation timings, checks, the layer
table) is written to ``.perfbench_out/<workload>_trace<k>.json``; a
traced run also writes ``.perfbench_out/<workload>_layers.md``, the
"where the time goes" table, with the tracing overhead against the
latest untraced run of the same workload.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import check_program, cpu_ticks, emit, metric, out_dir, repo_root, steal_pct  # noqa: E402

WORKLOADS = ("iot_ingest", "analytics_batch")
#: a run that has not finished by then is stopped (its children with it)
#: and exits with an error, inside the 180 s every run is allowed
RUN_LIMIT_S = 170

#: name → unit of every end-to-end metric, reported on every workload
END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "read_p50_ms": "ms",
    "read_p75_ms": "ms",
    "ops_per_s": "1/s",
}


def run_workload(root: str, workload: str, seed: int, seconds: float, trace: bool) -> dict:
    trace_file = None
    if trace:
        trace_file = os.path.join(root, ".perfbench_work", f"{workload}_spans.json")
        os.makedirs(os.path.dirname(trace_file), exist_ok=True)
    if workload == "iot_ingest":
        from serving import run_ingest

        res = run_ingest(root, seed, seconds, trace_file)
    else:
        from batch import run_batch

        res = run_batch(root, seed, trace_file)
    res["trace_file"] = trace_file
    return res


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    root = repo_root()
    check_program(root)

    def overtime(_sig, _frame):
        raise TimeoutError(f"run exceeded {RUN_LIMIT_S} s")

    signal.signal(signal.SIGALRM, overtime)
    signal.alarm(RUN_LIMIT_S)
    sys.path.insert(1, root)
    t0 = time.monotonic()
    ticks = cpu_ticks()
    res = run_workload(root, args.workload, args.seed, args.seconds, bool(args.trace))
    res["info"]["host_steal_pct"] = steal_pct(ticks)
    m = res["metrics"]
    if args.trace:
        from layers import layer_report

        metrics = layer_report(root, args.workload, res)
    else:
        metrics = {k: metric(m[k], u) for k, u in END_TO_END.items()}
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "wall_s": time.monotonic() - t0,
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "problems": res["problems"],
        "all_metrics": m,
        "metrics": metrics,
        "info": res["info"],
        "ops": res.get("ops"),
        "rows": [{k: v for k, v in r.items() if k != "result"} for r in res.get("rows", [])],
    }
    with open(os.path.join(out_dir(root), f"{args.workload}_trace{args.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    for line in res["problems"][:10]:
        print(f"problem: {line}", file=sys.stderr)
    emit(res["correct"], res["attempted"], res["failed"], metrics)
    return 0


if __name__ == "__main__":
    sys.exit(main())
