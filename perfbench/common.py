"""Shared helpers for the benchmark: environment, statistics, /proc
readings and the result line.

Every process the benchmark starts gets the environment from
``child_env``: the checkout root on ``PYTHONPATH`` (Spark's Python
workers import ``zestdb_spark`` from it), ``SPARK_GRAFT_CPUS`` = the
host's core count, and every scratch directory (Spark local dirs, the
JVM's temp dir, Python's temp dir) inside the checkout's work
directory, so a run reads and writes nothing outside the checkout.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import signal
import time

#: driver heap for every Spark session the benchmark starts. The
#: program's own default (16g) exceeds what a shared 4-core host can
#: give one process; the stores and tables here fit well inside 2g.
DRIVER_MEM = "2g"


def repo_root() -> str:
    """The checkout root: the benchmark runs from it."""
    return os.getcwd()


def check_program(root: str) -> None:
    """Exit with an error (no result line) when the program is not in
    the checkout — the benchmark builds and measures it from source."""
    missing = [
        p
        for p in ("zestdb_spark/serve.py", "zestdb_spark/transport.py", "__spark_entry__.py")
        if not os.path.isfile(os.path.join(root, p))
    ]
    if missing:
        raise SystemExit(f"perfbench: program files missing from {root}: {missing}")


def work_dir(root: str, name: str, fresh: bool = True) -> str:
    """A scratch directory under ``<root>/.perfbench_work``."""
    d = os.path.join(root, ".perfbench_work", name)
    if fresh and os.path.isdir(d):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d, exist_ok=True)
    return d


def out_dir(root: str) -> str:
    d = os.path.join(root, ".perfbench_out")
    os.makedirs(d, exist_ok=True)
    return d


def child_env(root: str, scratch: str) -> dict:
    env = dict(os.environ)
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["PYTHONPATH"] = root + (
        os.pathsep + env["PYTHONPATH"] if env.get("PYTHONPATH") else ""
    )
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    env["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    env["TMPDIR"] = tmp
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env["PYTHONDONTWRITEBYTECODE"] = "1"
    env["PYTHONHASHSEED"] = "0"
    env.pop("OMP_NUM_THREADS", None)
    return env


def kill_group(proc, grace_s: float = 5.0) -> None:
    """Stop a child started with ``start_new_session=True`` and every
    process in its group (JVM, Python workers): SIGTERM, then SIGKILL
    for whatever outlives ``grace_s``; returns once the group is gone."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            break
        deadline = time.monotonic() + grace_s
        while _group_alive(proc) and time.monotonic() < deadline:
            time.sleep(0.05)
        if not _group_alive(proc):
            break
    proc.wait()


def _group_alive(proc) -> bool:
    proc.poll()  # reap the leader, so only live members keep the group
    try:
        os.killpg(proc.pid, 0)
    except ProcessLookupError:
        return False
    return True


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1]) of a non-empty list."""
    xs = sorted(values)
    if not xs:
        return float("nan")
    pos = (len(xs) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def proc_status_kb(pid: int, field: str) -> int:
    """A ``/proc/<pid>/status`` field in kB (0 when the process is gone)."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def cpu_ticks() -> "tuple[int, int]":
    """(steal, total) jiffies of the host's CPUs from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7] if len(fields) > 7 else 0, sum(fields)


def steal_pct(before: "tuple[int, int]") -> float:
    """Share of CPU time the hypervisor gave to others since ``before``
    — a diagnostic for host noise, kept in each run's record."""
    steal, total = cpu_ticks()
    return 100.0 * (steal - before[0]) / max(1, total - before[1])


def dir_bytes(path: str) -> int:
    total = 0
    for dp, _dn, fns in os.walk(path):
        for fn in fns:
            try:
                total += os.path.getsize(os.path.join(dp, fn))
            except OSError:
                pass
    return total


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def emit(correct: bool, attempted: int, failed: int, metrics: dict) -> None:
    """Print the result object as the last line of stdout."""
    print(
        json.dumps(
            {
                "correct": bool(correct),
                "attempted": int(attempted),
                "failed": int(failed),
                "metrics": metrics,
            }
        ),
        flush=True,
    )

