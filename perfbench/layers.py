"""Per-layer metrics and the "where the time goes" table of a traced run.

Inputs: the generator's per-operation records and the span dump the
traced process wrote (``spans.Tracer.dump``). A module's self time is
the sum, over the measured operations, of its spans' durations minus
their children's; ``wire`` is what the client waited beyond the
server's ``ZestServer._handle`` span (sockets, framing, scheduling).
For ``analytics_batch`` an operation is one suite row, split into
factory build (``functions``, with the ``plans`` calls inside it),
execution (the ``bit_xor(xxhash64(struct(*)))`` twin) and transfer
(collect minus the twin).

The JSON metrics (``PER_LAYER``) are defined on every workload: a layer
a workload bypasses reads 0% or a zero count. The full list of named
per-module timings, the Spark stage totals and the tracing overhead
(traced end-to-end value minus the latest untraced one) go to
``.perfbench_out/<workload>_layers.md`` and ``..._layers.json``.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

from batch import FAMILIES
from common import metric, out_dir, quantile

SERVER_MODULES = (
    "transport", "protocol", "api", "observe", "plans", "sources",
    "storage", "snapshots", "serializers",
)
MODULES = ("wire",) + SERVER_MODULES + ("functions", "spark_exec", "transfer")

#: name → unit of every per-layer metric, reported on every workload
PER_LAYER = {
    **{f"self_pct.{m}": "%" for m in MODULES},
    "plans.compile_ms.p50": "ms",
    "plans.build_ms.p50": "ms",
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.task_ms_per_op": "ms",
    "spark.cpu_ms_per_op": "ms",
    "spark.shuffle_kb_per_op": "KB",
    "spark.spill_kb_per_op": "KB",
    "transport.req_bytes_per_op": "B",
    "transport.reply_bytes_per_op": "B",
    "observe.notifications": "count",
    "storage.files_per_read.p50": "count",
    "storage.reader_builds_per_read": "ratio",
    "storage.live_files_end": "count",
    "storage.bytes_per_user_byte": "ratio",
    "snapshots.commits": "count",
    "snapshots.commit_conflicts": "count",
    "serializers.rows_out.p50": "count",
    "api.ctx_mismatch_rows": "count",
    **{f"batch_pct.{f}": "%" for f in FAMILIES},
    "trace.op_p50_ms": "ms",
    "trace.read_p50_ms": "ms",
    "rss_peak_mb": "MB",
}


def _p50_ms(xs) -> float:
    return quantile(xs, 0.5) * 1000.0 if xs else 0.0


def _note_int(note: str, key: str) -> "int | None":
    for part in note.split("|"):
        if part.startswith(key + "="):
            return int(part[len(key) + 1:])
    return None


def serving_layers(res: dict, dump: dict) -> "tuple[dict, dict, dict]":
    """(JSON metrics, named per-module timings, self ms per module)."""
    ops = [o for o in res["ops"] if o[4]]
    rids = {o[6] for o in ops}
    spans = [s for s in dump["spans"] if s[4] in rids and s[2]]
    selfs = [r for r in dump["self"] if r[2] in rids]
    handle = {s[4]: s[2] - s[1] for s in spans if s[0] == "transport.handle"}
    rtt = {o[6]: o[3] - o[2] for o in ops}
    wire = [rtt[r] - handle[r] for r in rtt if r in handle]
    total = sum(rtt.values()) or 1.0
    self_s = defaultdict(float)
    for name, sec, _rid, _note in selfs:
        self_s[name.split(".")[0]] += sec
    self_s["wire"] = sum(wire)
    n = max(1, len(ops))

    def durs(name, cls=None):
        return [
            s[2] - s[1] for s in spans
            if s[0] == name and (cls is None or s[5].split("|")[0] == cls)
        ]

    def self_durs(name):
        return [r[1] for r in selfs if r[0] == name]

    reads = [s for s in spans if s[0] == "storage.load"]
    files = [_note_int(s[5], "files") for s in reads]
    files = [f for f in files if f is not None]
    rows_out = [_note_int(s[5], "rows") for s in spans if s[0] == "serializers.shape"]
    rows_out = [r for r in rows_out if r is not None]
    groups = [g for rid, g in dump["spark"].items() if rid in rids]

    def spark_sum(key):
        return sum(g[key] for g in groups)

    counts = dump["counts"]
    stats = res["info"]["stats"]
    store = os.path.join(res["scratch"], "store")
    user_bytes = res["info"]["payload_bytes"] or 1
    named = {
        "transport.wire_ms.p50": _p50_ms(wire),
        "protocol.handle_self_ms.p50": _p50_ms(self_durs("protocol.handle")),
        "transport.req_bytes": sum(o[7] for o in ops) / n,
        "transport.reply_bytes": sum(o[8] for o in ops) / n,
        **{f"api.get_ms.p50.{c}": _p50_ms(durs("api.get", c)) for c in ("latest", "agg")},
        **{f"api.post_ms.p50.{c}": _p50_ms(durs("api.post", c)) for c in ("ts", "blob", "kv")},
        "api.audit_ms.p50": _p50_ms(durs("api.audit")),
        "observe.publish_ms.p50": _p50_ms(durs("observe.publish")),
        "observe.notifications": sum(_note_int(s[5], "n") or 0 for s in spans if s[0] == "observe.publish"),
        "plans.compile_ms.p50": _p50_ms(durs("plans.compile")),
        "plans.build_ms.p50": _p50_ms(durs("plans.build")),
        "sources.tail_build_ms.p50": _p50_ms(durs("sources.tail_build")),
        "storage.load_ms.p50": _p50_ms(durs("storage.load")),
        "storage.files_per_read.p50": quantile(files, 0.5) if files else 0,
        "storage.append_ms.p50": _p50_ms(durs("storage.append")),
        "storage.kv_upsert_ms.p50": _p50_ms(durs("storage.kv_upsert")),
        "storage.log_append_ms.p50": _p50_ms(durs("storage.log_append")),
        "storage.live_files_end": sum(stats.get("live_files", {}).values()),
        **_store_bytes(store, user_bytes),
        "snapshots.commits": len(durs("snapshots.commit")),
        "snapshots.commit_ms.p50": _p50_ms(durs("snapshots.commit")),
        "snapshots.resolve_ms.p50": _p50_ms(durs("snapshots.resolve")),
        "snapshots.commit_conflicts": sum(
            v for k, v in counts.items()
            if k.startswith("snapshots.commit_conflicts|") and k.split("|", 1)[1] in rids
        ),
        "serializers.shape_ms.p50": _p50_ms(durs("serializers.shape")),
        "serializers.rows_out.p50": quantile(rows_out, 0.5) if rows_out else 0,
        **{f"spark.{k}_per_op": spark_sum(k) / n for k in ("jobs", "tasks", "task_ms", "cpu_ms", "gc_ms")},
        "spark.shuffle_kb_per_op": spark_sum("shuffle_bytes") / 1024.0 / n,
        "spark.spill_kb_per_op": spark_sum("spill_bytes") / 1024.0 / n,
    }
    table_reads = [s for s in spans if s[0] == "storage.read_table"]
    builds = sum(1 for s in table_reads if s[5] == "build")
    metrics = {f"self_pct.{m}": 100.0 * self_s.get(m, 0.0) / total for m in MODULES}
    metrics.update({
        "plans.compile_ms.p50": named["plans.compile_ms.p50"],
        "plans.build_ms.p50": named["plans.build_ms.p50"],
        **{k: named[k] for k in (
            "spark.jobs_per_op", "spark.tasks_per_op", "spark.task_ms_per_op",
            "spark.cpu_ms_per_op", "spark.shuffle_kb_per_op", "spark.spill_kb_per_op",
            "observe.notifications", "storage.files_per_read.p50",
            "storage.live_files_end", "storage.bytes_per_user_byte",
            "snapshots.commits", "snapshots.commit_conflicts", "serializers.rows_out.p50",
        )},
        "transport.req_bytes_per_op": named["transport.req_bytes"],
        "transport.reply_bytes_per_op": named["transport.reply_bytes"],
        "storage.reader_builds_per_read": builds / max(1, len(table_reads)),
        "api.ctx_mismatch_rows": res["info"].get("write_log_ctx_mismatch", 0),
        **{f"batch_pct.{f}": 0.0 for f in FAMILIES},
    })
    per_op_ms = {m: 1000.0 * self_s.get(m, 0.0) / n for m in MODULES}
    return metrics, named, per_op_ms


def _store_bytes(store: str, user_bytes: float) -> dict:
    """Store bytes per user byte, split into table data, the audit and
    write logs, and snapshot manifests."""
    data = log = manifest = 0
    for dp, _dn, fns in os.walk(store):
        rel = os.path.relpath(dp, store).split(os.sep)
        size = sum(os.path.getsize(os.path.join(dp, f)) for f in fns)
        if any(p.startswith("_zest") for p in rel):
            manifest += size
        elif rel[0] in ("audit", "write_log"):
            log += size
        else:
            data += size
    return {
        "storage.bytes_per_user_byte": (data + log + manifest) / user_bytes,
        "storage.data_bytes_per_user_byte": data / user_bytes,
        "storage.log_bytes_per_user_byte": log / user_bytes,
        "storage.manifest_bytes_per_user_byte": manifest / user_bytes,
    }


def batch_layers(res: dict, dump: dict) -> "tuple[dict, dict, dict]":
    rows = res["rows"]
    n = max(1, len(rows))
    wall = sum(r["wall_s"] for r in rows) or 1.0
    plans = {"plans.compile": [], "plans.build": []}
    for name, t0, t1, _parent, rid, _note in dump["spans"]:
        if name in plans and t1 and rid == "0":
            plans[name].append(t1 - t0)
    plans_s = sum(sum(v) for v in plans.values())
    spark = dump["spark"]
    named: dict = {}
    fam_s = defaultdict(float)
    self_s = defaultdict(float)
    for r in rows:
        exec_s = min(r["exec_s"], r["collect_s"])
        fam_s[r["family"]] += r["wall_s"]
        self_s["functions"] += r["build_s"]
        self_s["spark_exec"] += exec_s
        self_s["transfer"] += r["collect_s"] - exec_s
    self_s["functions"] -= plans_s
    self_s["plans"] = plans_s
    for fam in FAMILIES:
        fr = [r for r in rows if r["family"] == fam]
        named[f"batch_{fam}_s"] = sum(r["wall_s"] for r in fr)
        named[f"batch.{fam}.build_s"] = sum(r["build_s"] for r in fr)
        named[f"batch.{fam}.exec_s"] = sum(min(r["exec_s"], r["collect_s"]) for r in fr)
        named[f"batch.{fam}.transfer_s"] = sum(r["collect_s"] - min(r["exec_s"], r["collect_s"]) for r in fr)
        for key, label, scale in (
            ("task_ms", "task_s", 1e-3), ("cpu_ms", "cpu_s", 1e-3), ("gc_ms", "gc_s", 1e-3),
            ("shuffle_bytes", "shuffle_mb", 1 / 2**20), ("spill_bytes", "spill_mb", 1 / 2**20),
            ("tasks", "tasks", 1), ("jobs", "jobs", 1),
        ):
            # jobs launched while building (eager factories) and by the
            # collect; the execution twin's own jobs are not counted
            named[f"batch.{fam}.{label}"] = scale * sum(
                spark.get(f"{g}.{r['name']}", {}).get(key, 0) for r in fr for g in ("b", "c")
            )
        named[f"batch.{fam}.build_jobs"] = sum(
            spark.get(f"b.{r['name']}", {}).get("jobs", 0) for r in fr
        )

    def spark_sum(key):
        return sum(spark.get(f"{g}.{r['name']}", {}).get(key, 0) for r in rows for g in ("b", "c"))

    named.update({
        "plans.compile_ms.p50": _p50_ms(plans["plans.compile"]),
        "plans.build_ms.p50": _p50_ms(plans["plans.build"]),
        **{f"spark.{k}_per_op": spark_sum(k) / n for k in ("jobs", "tasks", "task_ms", "cpu_ms", "gc_ms")},
        "spark.shuffle_kb_per_op": spark_sum("shuffle_bytes") / 1024.0 / n,
        "spark.spill_kb_per_op": spark_sum("spill_bytes") / 1024.0 / n,
    })
    metrics = {f"self_pct.{m}": 100.0 * self_s.get(m, 0.0) / wall for m in MODULES}
    metrics.update({k: 0.0 for k in PER_LAYER if k not in metrics})
    for k in ("plans.compile_ms.p50", "plans.build_ms.p50", "spark.jobs_per_op",
              "spark.tasks_per_op", "spark.task_ms_per_op", "spark.cpu_ms_per_op",
              "spark.shuffle_kb_per_op", "spark.spill_kb_per_op"):
        metrics[k] = named[k]
    for fam in FAMILIES:
        metrics[f"batch_pct.{fam}"] = 100.0 * fam_s[fam] / wall
    per_op_ms = {m: 1000.0 * self_s.get(m, 0.0) / n for m in MODULES}
    return metrics, named, per_op_ms


def layer_report(root: str, workload: str, res: dict) -> dict:
    """Per-layer JSON metrics of a traced run; writes the layer table."""
    with open(res["trace_file"]) as fh:
        dump = json.load(fh)
    if workload == "analytics_batch":
        metrics, named, per_op_ms = batch_layers(res, dump)
    else:
        metrics, named, per_op_ms = serving_layers(res, dump)
    e2e = res["metrics"]
    metrics["trace.op_p50_ms"] = e2e["op_p50_ms"]
    metrics["trace.read_p50_ms"] = e2e["read_p50_ms"]
    # peak RSS (VmHWM) of the server or driver Python process plus its
    # JVM; it varies by more than a tenth between runs, so it is
    # reported here rather than as an end-to-end metric
    metrics["rss_peak_mb"] = e2e["rss_peak_mb"]

    overhead = {}
    untraced = os.path.join(out_dir(root), f"{workload}_trace0.json")
    if os.path.exists(untraced):
        with open(untraced) as fh:
            base = json.load(fh)["all_metrics"]
        overhead = {k: e2e[k] - base[k] for k in e2e if k in base and isinstance(base[k], (int, float))}

    total_ms = sum(per_op_ms.values()) or 1.0
    lines = [
        f"# Where the time goes: {workload} (traced run)",
        "",
        "Self time per operation by module, from span wrappers around the",
        "program's public functions. Shares are of the summed operation time.",
        "",
        "| module | self ms per op | share |",
        "|---|---:|---:|",
    ]
    for m, ms in sorted(per_op_ms.items(), key=lambda kv: -kv[1]):
        if ms > 0:
            lines.append(f"| {m} | {ms:.2f} | {100.0 * ms / total_ms:.1f}% |")
    lines += ["", "## Named per-layer metrics", "", "| metric | value |", "|---|---:|"]
    lines += [f"| {k} | {v:.4g} |" for k, v in named.items()]
    lines += ["", "## Tracing overhead (traced − latest untraced run)", ""]
    if overhead:
        lines += ["| metric | traced | overhead |", "|---|---:|---:|"]
        lines += [f"| {k} | {e2e[k]:.4g} | {v:+.4g} |" for k, v in overhead.items()]
    else:
        lines.append("No untraced run of this workload in this checkout yet.")
    od = out_dir(root)
    with open(os.path.join(od, f"{workload}_layers.md"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    with open(os.path.join(od, f"{workload}_layers.json"), "w") as fh:
        json.dump({"per_op_ms": per_op_ms, "named": named, "overhead": overhead, "metrics": metrics}, fh, indent=1)
    res["info"]["layers"] = {"named": named, "overhead": overhead}
    return {k: metric(metrics[k], u) for k, u in PER_LAYER.items()}
