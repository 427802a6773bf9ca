"""Server process for the ``iot_ingest`` workload.

Starts the program's server through ``zestdb_spark.serve.main`` (its
shipped defaults: ``warm()`` on, no maintenance thread) on loopback
ports and serves until a ``stop`` line arrives on stdin. Then it stops
the server, reads its own and the JVM's peak RSS, optionally re-reads
every acknowledged write through a fresh ``ZestEngine`` on the same
root, and writes one JSON stats file.

With ``--trace-file`` it first patches the program's module attributes
with span wrappers (see ``install_tracing``) and, at the end, dumps the
spans plus per-request Spark stage metrics.

    python perfbench/serve_launcher.py --store-root DIR --ready-file F \\
        --stats-file S [--verify] [--trace-file T]
"""

from __future__ import annotations

import argparse
import json
import os
import struct
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import proc_status_kb  # noqa: E402


def install_tracing(tracer) -> None:
    """Span wrappers at the program's layer boundaries. The request id
    rides in the frame's uri_host; the api wrappers also put each
    request's Spark jobs in a job group named after it."""
    from zestdb_spark import api, coordination, protocol, serializers, snapshots, storage, transport
    from zestdb_spark.streaming import observe

    def set_rid(args, _kw):
        try:
            tracer.rid = protocol.decode(args[1]).uri_host
        except (ValueError, IndexError, struct.error, UnicodeDecodeError):
            tracer.rid = ""  # a malformed frame carries no id
        return ""

    tracer.wrap(transport.ZestServer, "_handle", "transport.handle", set_rid)
    tracer.wrap(protocol.ZestFrameServer, "handle", "protocol.handle")

    def classify_get(path: str) -> str:
        parts = path.split("/")
        if any(a in parts for a in ("mean", "median", "sd", "count", "sum", "min", "max")):
            return "agg"
        if parts[-1] in ("latest", "earliest") or (len(parts) > 2 and parts[-2] in ("last", "first")):
            return "latest"
        return "window"

    def classify_post(path: str) -> str:
        parts = path.split("/") + ["", ""]
        if parts[1] in ("kv", "cat"):
            return parts[1]
        return "blob" if parts[2] == "blob" else "ts"

    def job_group(engine):
        rid = tracer.rid or "r-none"
        engine.spark.sparkContext.setJobGroup(rid, rid, False)

    def before_get(args, kw):
        job_group(args[0])
        return classify_get(args[1])

    def before_post(args, kw):
        job_group(args[0])
        return classify_post(args[1])

    tracer.wrap(api.ZestEngine, "get", "api.get", before_get)
    tracer.wrap(api.ZestEngine, "post", "api.post", before_post)
    tracer.wrap(api.ZestEngine, "_audit", "api.audit")
    tracer.wrap(api.ZestEngine, "_tail_window", "sources.tail_build")
    tracer.wrap(api, "compile_path", "plans.compile")
    tracer.wrap(api, "plan_to_dataframe", "plans.build")

    def count_notes(result, _args, idx):
        tracer.note(idx, f"n={result or 0}")

    tracer.wrap(observe.ObserverRegistry, "publish_data", "observe.publish", after=count_notes)
    tracer.wrap(observe.ObserverRegistry, "publish_audit", "observe.publish", after=count_notes)

    # storage: each load notes how many files survive manifest pruning
    orig_may_match = storage.ZestStore._file_may_match

    def may_match(*a, **k):
        ok = orig_may_match(*a, **k)
        if ok:
            tracer._tls.files = getattr(tracer._tls, "files", 0) + 1
        return ok

    storage.ZestStore._file_may_match = staticmethod(may_match)

    def load_before(args, _kw):
        tracer._tls.files = 0
        return args[1] if len(args) > 1 else ""

    def load_after(_result, _args, idx):
        tracer.note(idx, f"{tracer.spans[idx][5]}|files={tracer._tls.files}")

    tracer.wrap(storage.ZestStore, "load", "storage.load", load_before, load_after)

    # a reader-cache hit returns a frame the cache already held
    def read_table_before(args, _kw):
        tracer._tls.cached = {id(df) for df in list(args[0]._reader_cache.values())}
        return ""

    def read_table_after(result, _args, idx):
        if id(result) not in tracer._tls.cached:
            tracer.note(idx, "build")

    tracer.wrap(storage.ZestStore, "_read_table", "storage.read_table", read_table_before, read_table_after)
    tracer.wrap(storage.ZestStore, "_append_ts_local", "storage.append")
    tracer.wrap(storage.ZestStore, "kv_upsert", "storage.kv_upsert")
    tracer.wrap(storage.ZestStore, "_append_log", "storage.log_append")

    # a manifest CAS miss makes commit retry on the next version
    orig_publish = coordination.LocalFSCoordinator.publish

    def publish(self, tmp, final):
        won = orig_publish(self, tmp, final)
        if not won:
            tracer.count(f"snapshots.commit_conflicts|{tracer.rid}")
        return won

    coordination.LocalFSCoordinator.publish = publish
    tracer.wrap(snapshots, "commit", "snapshots.commit")
    tracer.wrap(snapshots, "latest", "snapshots.resolve")
    tracer.wrap(snapshots, "read_version", "snapshots.resolve")

    def rows_out(result, _args, idx):
        try:
            val = json.loads(result)
        except (TypeError, ValueError):
            return
        tracer.note(idx, f"rows={len(val) if isinstance(val, list) else 1}")

    for fn in ("rows_to_json", "aggregate_to_json", "length_to_json", "count_to_json", "keys_to_json"):
        tracer.wrap(serializers, fn, "serializers.shape", after=rows_out)


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def verify_dump(spark, root: str) -> dict:
    """What a fresh engine on the same root reads back: numeric rows
    (series, value), blob rows per series, KV values and the write_log
    (table, path) provenance pairs. The four reads run concurrently."""
    from concurrent.futures import ThreadPoolExecutor

    from zestdb_spark.api import ZestEngine

    store = ZestEngine(spark, root).store
    reads = {
        "numeric": lambda: store.load("ts_numeric").select("series_id", "value"),
        "blob_counts": lambda: store.load("ts_blob").groupBy("series_id").count(),
        "kv": lambda: store.load("kv_json").select("id", "key", "value"),
        "write_log": lambda: store.load("write_log").select("target_table", "path"),
    }
    with ThreadPoolExecutor(len(reads)) as pool:
        futures = {k: pool.submit(lambda f=f: [list(r) for r in f().collect()]) for k, f in reads.items()}
        out = {k: fut.result() for k, fut in futures.items()}
    out["blob_counts"] = dict(out["blob_counts"])
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--store-root", required=True)
    p.add_argument("--ready-file", required=True)
    p.add_argument("--stats-file", required=True)
    p.add_argument("--verify", action="store_true")
    p.add_argument("--trace-file", default=None)
    args = p.parse_args(argv)

    tracer = None
    if args.trace_file:
        from spans import Tracer

        tracer = Tracer()
        install_tracing(tracer)

    from zestdb_spark import serve
    from zestdb_spark.session import get_spark

    t0 = time.monotonic()
    spark = get_spark("zestdb_spark_server")
    stats: dict = {"spark_s": time.monotonic() - t0}
    t1 = time.monotonic()
    server = serve.main(
        [
            "--store-root", args.store_root,
            "--request-endpoint", "tcp://127.0.0.1:0",
            "--router-endpoint", "tcp://127.0.0.1:0",
        ],
        block=False,
    )
    stats["serve_start_s"] = time.monotonic() - t1
    jpid = jvm_pid(spark)
    with open(args.ready_file + ".tmp", "w") as fh:
        json.dump(
            {"rep": server.rep.endpoint, "router": server.router.endpoint,
             "pid": os.getpid(), "jvm_pid": jpid},
            fh,
        )
    os.replace(args.ready_file + ".tmp", args.ready_file)

    sys.stdin.readline()
    server.stop()
    store = server.engine.store
    stats["live_files"] = {
        t: len(store._live_files(t))
        for t in ("ts_numeric", "ts_blob", "kv_json", "audit", "write_log")
        if store._exists(t)
    }
    stats["rss_peak_kb"] = proc_status_kb(os.getpid(), "VmHWM") + proc_status_kb(jpid, "VmHWM")
    t2 = time.monotonic()
    if args.verify:
        stats["verify"] = verify_dump(spark, args.store_root)
    stats["verify_s"] = time.monotonic() - t2
    if tracer is not None:
        from spans import spark_group_metrics

        tracer.dump(args.trace_file, {"spark": spark_group_metrics(spark, "r")})
    with open(args.stats_file, "w") as fh:
        json.dump(stats, fh)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
