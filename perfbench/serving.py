"""The ``iot_ingest`` serving workload, driven over the ZMTP wire.

One generator process (this one) starts the server
(``serve_launcher.py``), opens REQ connections with
``transport.ZestReqClient`` — plus one ``ZestDealerClient`` observer on
``iot_ingest`` — and runs a closed loop on each connection: a client
sends its next request only after the reply to the previous one, as
the reference clients do. Every request carries its id in the frame's
uri_host and has a timeout; a dead or timed-out connection is closed,
counted with its cause and reopened.

``iot_ingest``: the server starts on an empty store. Three connections
each own a disjoint set of devices and send about 80% one-row
``POST /ts/<dev>``, 5% ``POST /ts/blob/<dev>``, 5% ``POST
/kv/<dev>/cfg`` and 10% reads of their own fresh data (``latest``,
``last/N``, ``since/0/count``), checked against the generator's model
of what it wrote. After the run a fresh ``ZestEngine`` on the same
root must read back every acknowledged write.
"""

from __future__ import annotations

import json
import os
import random
import socket
import subprocess
import sys
import threading
import time

from common import child_env, dir_bytes, kill_group, quantile, work_dir

REQUEST_TIMEOUT_S = 20.0
READY_TIMEOUT_S = 100.0
#: unrecorded closed-loop traffic before the measured window: long
#: enough for the read path's first-call costs (the first zest_tail
#: read alone takes several seconds) and JIT warm-up
INGEST_WARM_S = 10.0

INGEST_CONNS = 3
INGEST_DEVICES_PER_CONN = 8
ROOMS = ("r0", "r1", "r2", "r3")


# ------------------------------------------------------------ server


class Server:
    """The launcher subprocess: started in its own session so a failed
    run can take down the whole tree (launcher, JVM, Python workers)."""

    def __init__(self, root: str, scratch: str, verify=False, trace_file=None):
        self.scratch = scratch
        self.store = os.path.join(scratch, "store")
        self.ready_file = os.path.join(scratch, "ready.json")
        self.stats_file = os.path.join(scratch, "stats.json")
        cmd = [
            sys.executable,
            os.path.join(root, "perfbench", "serve_launcher.py"),
            "--store-root", self.store,
            "--ready-file", self.ready_file,
            "--stats-file", self.stats_file,
        ]
        if verify:
            cmd.append("--verify")
        if trace_file:
            cmd += ["--trace-file", trace_file]
        self.log = open(os.path.join(scratch, "server.log"), "w")
        self.proc = subprocess.Popen(
            cmd,
            stdin=subprocess.PIPE,
            stdout=self.log,
            stderr=subprocess.STDOUT,
            cwd=scratch,
            env=child_env(root, scratch),
            start_new_session=True,
            text=True,
        )

    def wait_ready(self) -> dict:
        deadline = time.monotonic() + READY_TIMEOUT_S
        while time.monotonic() < deadline:
            if os.path.exists(self.ready_file):
                with open(self.ready_file) as fh:
                    return json.load(fh)
            if self.proc.poll() is not None:
                raise RuntimeError(f"server exited early ({self.proc.returncode}); see {self.log.name}")
            time.sleep(0.05)
        raise RuntimeError("server not ready in time")

    def stop(self, timeout_s: float = 60.0) -> dict:
        """Ask the launcher to stop; return its stats file."""
        try:
            self.proc.stdin.write("stop\n")
            self.proc.stdin.flush()
            self.proc.stdin.close()
            self.proc.wait(timeout=timeout_s)
        finally:
            self.kill()
        if self.proc.returncode != 0:
            raise RuntimeError(f"server exited {self.proc.returncode}; see {self.log.name}")
        with open(self.stats_file) as fh:
            return json.load(fh)

    def kill(self) -> None:
        """Terminate whatever is left of the process tree and wait."""
        kill_group(self.proc)
        self.log.close()


# ------------------------------------------------------------ client


class RequestFailed(Exception):
    def __init__(self, cause: str):
        super().__init__(cause)
        self.cause = cause


class Conn:
    """One REQ connection with a per-request timeout; any transport
    failure closes it (the next request reconnects) and is raised as
    RequestFailed with its cause."""

    def __init__(self, endpoint: str):
        self.endpoint = endpoint
        self.client = None

    def request(self, frame: bytes) -> bytes:
        from zestdb_spark.transport import TransportError, ZestReqClient

        try:
            if self.client is None:
                self.client = ZestReqClient(self.endpoint, timeout_s=REQUEST_TIMEOUT_S)
            return self.client.request(frame)
        except socket.timeout:
            cause = "timeout"
        except (ConnectionError, TransportError, OSError) as exc:
            cause = type(exc).__name__
        self.close()
        raise RequestFailed(cause)

    def close(self) -> None:
        if self.client is not None:
            try:
                self.client.close()
            except OSError:
                pass
            self.client = None


class Recorder:
    """Per-operation records: kind (read/write), class, start, end,
    ok, cause, request id, request and reply bytes."""

    def __init__(self):
        self.ops: list = []
        self.lock = threading.Lock()

    def add(self, *rec) -> int:
        with self.lock:
            self.ops.append(rec)
            return len(self.ops) - 1

    def fail(self, idx: int, cause: str) -> None:
        """Turn a recorded operation into a failure (a wrong answer)."""
        with self.lock:
            r = list(self.ops[idx])
            r[4], r[5] = False, cause
            self.ops[idx] = tuple(r)


def do_request(conn: Conn, rec: Recorder, kind: str, cls: str, rid: str, frame: bytes):
    """Send one request and record it. Returns (decoded reply or None
    on failure, record index)."""
    from zestdb_spark import protocol

    t0 = time.perf_counter()
    try:
        reply = conn.request(frame)
    except RequestFailed as exc:
        return None, rec.add(kind, cls, t0, time.perf_counter(), False, exc.cause, rid, len(frame), 0)
    t1 = time.perf_counter()
    try:
        resp = protocol.decode(reply)
    except (ValueError, IndexError) as exc:
        return None, rec.add(kind, cls, t0, t1, False, f"bad reply: {exc}", rid, len(frame), len(reply))
    return resp, rec.add(kind, cls, t0, t1, True, "", rid, len(frame), len(reply))


def latency_metrics(ops: list, window_s: float) -> dict:
    """End-to-end metrics over the measured operations. A failed
    operation counts as missing every latency limit (+inf)."""
    def lat(o):
        return (o[3] - o[2]) * 1000.0 if o[4] else float("inf")

    all_ms = [lat(o) for o in ops]
    reads = [lat(o) for o in ops if o[0] == "read"]
    done = sum(1 for o in ops if o[4])
    return {
        "op_p50_ms": quantile(all_ms, 0.5),
        "read_p50_ms": quantile(reads, 0.5),
        "read_p75_ms": quantile(reads, 0.75),
        "ops_per_s": done / window_s,
        "n_ops": len(ops),
        "n_reads": len(reads),
    }


# ------------------------------------------------------------ phases


def run_phases(endpoint: str, clients: list, warm_s: float, seconds: float):
    """Closed loop on one REQ connection per client: a warm-up phase
    (the server's first-call costs, JIT, caches) whose timings are not
    reported, then the measured window. A phase ends when every
    connection has finished the request it was in when the phase's time
    ran out. Returns the warm-up's and the window's records, the
    window's length and its start (``time.monotonic``)."""
    conns = [Conn(endpoint) for _ in clients]

    def phase(rec: Recorder, duration: float) -> float:
        t0 = time.monotonic()
        deadline = t0 + duration
        errors: list = []

        def loop(client, conn):
            try:
                while time.monotonic() < deadline:
                    client.step(conn, rec)
            except BaseException as exc:  # noqa: BLE001 — re-raised below
                errors.append(exc)

        threads = [threading.Thread(target=loop, args=cc) for cc in zip(clients, conns)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if errors:
            raise errors[0]
        return time.monotonic() - t0

    warm, rec = Recorder(), Recorder()
    try:
        phase(warm, warm_s)
        window_t0 = time.monotonic()
        window_s = phase(rec, seconds)
    finally:
        for conn in conns:
            conn.close()
    return warm, rec, window_s, window_t0


def warm_failures(warm: Recorder) -> list:
    """Failed warm-up operations: not attempted in the window, but a
    wrong answer or lost request fails the run all the same."""
    return [f"warm-up {o[1]} {o[6]}: {o[5]}" for o in warm.ops if not o[4]]


# ------------------------------------------------------------ iot_ingest

#: per-connection write cycle: 16 numeric writes, 1 blob write and 1 KV
#: write in 18. Reads are scheduled in time instead: one every
#: INGEST_READ_EVERY_S per connection (about 10% of requests), the
#: connections a third of a period apart, rotating last/N, latest and
#: since/0/count. A fixed schedule keeps the reads' overlap the same
#: from run to run; counting them into the op cycle let the three
#: connections drift in and out of step. The seed picks devices,
#: values and N.
INGEST_CYCLE = "WWWWWWWWBWWWWWWWWK"
INGEST_READS = ("last", "latest", "count")
INGEST_READ_EVERY_S = 2.0


class IngestClient:
    """One connection's closed loop over its own devices, keeping the
    model of every acknowledged write its reads are checked against."""

    def __init__(self, c: int, rng: random.Random, model: dict, observed: dict):
        self.c, self.rng, self.model, self.observed = c, rng, model, observed
        self.devices = [f"dev{c}x{k}" for k in range(INGEST_DEVICES_PER_CONN)]
        self.seq = 0  # requests sent, for request ids
        self.writes = 0
        self.reads = c  # connections start at different read kinds
        self.next_read = None

    def read_due(self) -> bool:
        now = time.monotonic()
        if self.next_read is None:
            self.next_read = now + self.c * INGEST_READ_EVERY_S / INGEST_CONNS
        if now < self.next_read or not any(d in self.model["ts"] for d in self.devices):
            return False
        while self.next_read <= now:  # a slow request skips missed slots
            self.next_read += INGEST_READ_EVERY_S
        return True

    def step(self, conn: Conn, rec: Recorder) -> None:
        from zestdb_spark import protocol

        self.seq += 1
        rid = f"r{self.c}.{self.seq}"
        model = self.model
        if self.read_due():
            # one of this connection's devices that has readings
            dev = self.rng.choice([d for d in self.devices if d in model["ts"]])
            written = model["ts"][dev]
            kind = INGEST_READS[self.reads % len(INGEST_READS)]
            self.reads += 1
            if kind == "last":
                n = self.rng.choice((3, 10))
                path, want = f"/ts/{dev}/last/{n}", written[-n:]
            elif kind == "latest":
                path, want = f"/ts/{dev}/latest", written[-1:]
            else:
                path, want = f"/ts/{dev}/since/0/count", len(written)
            resp, idx = do_request(conn, rec, "read", kind, rid, protocol.request_get(path, host=rid))
            if resp is None:
                return
            if resp.code != protocol.ACK_CONTENT:
                rec.fail(idx, f"GET code {resp.code}")
                return
            if dev in model["dirty"]:
                return  # a lost ack leaves the device's contents unknown
            got = json.loads(resp.payload.decode() or "null")
            if isinstance(want, int):
                ok = got == {"result": float(want)}
            else:
                ok = [row["data"]["value"] for row in got] == list(reversed(want))
            if not ok:
                rec.fail(idx, f"wrong answer for {path}")
            return
        op = INGEST_CYCLE[self.writes % len(INGEST_CYCLE)]
        self.writes += 1
        dev = self.rng.choice(self.devices)
        if op == "B":
            body = {"seq": self.seq, "conn": self.c}
            path, cls = f"/ts/blob/{dev}", "blob"
        elif op == "K":
            body = {"v": self.seq}
            path, cls = f"/kv/{dev}/cfg", "kv"
        else:
            value = float(self.c * 1_000_000 + self.seq)
            body = {"value": value, "room": ROOMS[self.writes % len(ROOMS)]}
            path, cls = f"/ts/{dev}", "ts"
        payload = json.dumps(body).encode()
        resp, idx = do_request(conn, rec, "write", cls, rid, protocol.request_post(path, payload, host=rid))
        if resp is None:
            model["dirty"].add(dev)
            return
        if resp.code != protocol.ACK_CREATED:
            rec.fail(idx, f"POST code {resp.code}")
            return
        with rec.lock:
            model["payload_bytes"] += len(payload)
        if cls == "ts":
            model["ts"].setdefault(dev, []).append(value)
            if path == self.observed["path"]:
                self.observed["acked"] += 1
        elif cls == "blob":
            model["blob"][dev] = model["blob"].get(dev, 0) + 1
        else:
            model["kv"][dev] = body


def _observer(endpoint_router, oid, observed, stop):
    from zestdb_spark.transport import ZestDealerClient

    dealer = ZestDealerClient(endpoint_router, identity=oid, timeout_s=REQUEST_TIMEOUT_S)
    try:
        while not stop.is_set():
            try:
                dealer.recv(timeout_s=0.5)
            except (socket.timeout, OSError):
                continue
            observed["received"] += 1
    finally:
        dealer.close()


def run_ingest(root: str, seed: int, seconds: float, trace_file=None) -> dict:
    from zestdb_spark import protocol

    scratch = work_dir(root, "iot_ingest")
    rng = random.Random(seed)
    t_setup = time.monotonic()
    server = Server(root, scratch, verify=True, trace_file=trace_file)
    try:
        ready = server.wait_ready()
        # observer: a DEALER on the router, registered on one device
        observed = {"path": f"/ts/dev0x{rng.randrange(INGEST_DEVICES_PER_CONN)}", "acked": 0, "received": 0}
        reg = Conn(ready["rep"])
        resp = protocol.decode(reg.request(protocol.request_observe(observed["path"], host="setup")))
        reg.close()
        if resp.code != protocol.ACK_CONTENT:
            raise RuntimeError(f"observe registration failed: {resp.code}")
        stop = threading.Event()
        obs_thread = threading.Thread(
            target=_observer, args=(ready["router"], resp.payload.decode(), observed, stop)
        )
        obs_thread.start()
        try:
            time.sleep(0.2)  # the router registers the dealer's identity
            model = {"ts": {}, "blob": {}, "kv": {}, "dirty": set(), "payload_bytes": 0}
            clients = [
                IngestClient(c, random.Random(rng.randrange(1 << 30)), model, observed)
                for c in range(INGEST_CONNS)
            ]
            warm, rec, window_s, window_t0 = run_phases(ready["rep"], clients, INGEST_WARM_S, seconds)
            # the push for the last write goes out before its reply
            time.sleep(0.1)
        finally:
            stop.set()
            obs_thread.join(timeout=5)
        stats = server.stop()
    except BaseException:
        server.kill()
        raise

    m = latency_metrics(rec.ops, window_s)
    writes = [(o[3] - o[2]) * 1000.0 if o[4] else float("inf") for o in rec.ops if o[0] == "write"]
    m["write_p50_ms"] = quantile(writes, 0.5)
    m["write_p90_ms"] = quantile(writes, 0.9)
    m["setup_s"] = window_t0 - t_setup
    m["rss_peak_mb"] = stats["rss_peak_kb"] / 1024.0
    store_bytes = dir_bytes(server.store)
    m["space_amp"] = store_bytes / max(1, model["payload_bytes"])

    # after the run: every acknowledged write readable from a fresh engine
    v = stats["verify"]
    problems = []
    have: dict = {}
    for sid, val in v["numeric"]:
        have.setdefault(sid, set()).add(val)
    for dev, vals in model["ts"].items():
        missing = [x for x in vals if x not in have.get(dev, set())]
        if missing:
            problems.append(f"{dev}: {len(missing)} acknowledged readings missing")
    for dev, n in model["blob"].items():
        if v["blob_counts"].get(dev, 0) < n:
            problems.append(f"{dev}: blob rows {v['blob_counts'].get(dev, 0)} < {n}")
    kv = {(i, k): val for i, k, val in v["kv"]}
    for dev, body in model["kv"].items():
        if dev not in model["dirty"] and json.loads(kv.get((dev, "cfg"), "null")) != body:
            problems.append(f"{dev}: kv cfg not the last acknowledged value")
    if observed["received"] != observed["acked"]:
        problems.append(
            f"observer got {observed['received']} notifications for {observed['acked']} writes"
        )
    # provenance rows naming another request's path (per-request state
    # shared across connection threads) are counted, not failed
    ctx_mismatch = sum(1 for table, path in v["write_log"] if not _path_fits_table(path, table))
    problems += warm_failures(warm)
    failed = sum(1 for o in rec.ops if not o[4]) + len(problems)
    return {
        "metrics": m,
        "attempted": len(rec.ops),
        "failed": failed,
        "correct": failed == 0,
        "problems": problems + [f"{o[1]} {o[6]}: {o[5]}" for o in rec.ops if not o[4]][:20],
        "ops": rec.ops,
        "info": {
            "window_s": window_s,
            "observer": observed,
            "stats": {k: val for k, val in stats.items() if k != "verify"},
            "store_bytes": store_bytes,
            "payload_bytes": model["payload_bytes"],
            "write_log_ctx_mismatch": ctx_mismatch,
            "write_log_rows": len(v["write_log"]),
            "causes": _causes(rec.ops),
        },
        "scratch": scratch,
    }


def _path_fits_table(path: str, table: str) -> bool:
    parts = path.split("/")
    if table == "ts_numeric":
        return len(parts) == 3 and parts[1] == "ts"
    if table == "ts_blob":
        return len(parts) == 4 and parts[2] == "blob"
    if table.startswith("kv_"):
        return parts[1] == "kv"
    return True


def _causes(ops) -> dict:
    out: dict = {}
    for o in ops:
        if not o[4]:
            key = o[5].split(" for ")[0]
            out[key] = out.get(key, 0) + 1
    return out
