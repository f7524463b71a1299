"""Open-loop NEF push probe, run after the backlog in the traced nef_backlog
run.

Wiring: `NotifyHTTPShim` spools accepted POSTs into a directory that a
continuously triggered `build_ingest_stream` reads (dim from the same
`SubscriptionStore`); each micro-batch feeds `kafka_foreach_batch` and
`ws_fanout_foreach_batch`, with live WebSocket subscribers on a few keys.
`known_notif_ids` lists the store on every POST, as the reference checks
its registry per notify.  Operations come from `gen.push_schedule` at
RATE per second, sent by SENDERS threads on a fixed schedule regardless of
how the program keeps up; every latency is taken from the operation's due
time.

The probe has two phases.  In the main phase (N_OPS operations) the sinks
run on the lazy batch, as in an untraced run; only the store and HTTP
calls carry spans, which cost two clock reads each.  The push end-to-end
numbers come from this phase.  Once it has drained, N_TAIL more
notifications are sent with every batch split and traced, which gives the
per-layer shares and the push tracing overhead.  The probe ends when the
stream has committed every spooled file.
"""

from __future__ import annotations

import base64
import http.client
import json
import os
import queue
import random
import socket
import threading
import time

import gen
from common import log
from ingest_common import BatchRecorder, progress_layers
from sinkrec import read_messages
from tracing import Tracer, median, pct

RATE = 2.0  # POST/s
N_OPS = 16
N_TAIL = 4  # traced notifications after the main phase
SENDERS = 2
N_WS_KEYS = 3  # the golden key and the two hottest keys
DRAIN_TIMEOUT_S = 120


class TracedStore:
    """The store as the shim sees it, with a span around every call."""

    def __init__(self, store, tracer) -> None:
        self._store = store
        self._tracer = tracer

    def add(self, sub):
        with self._tracer.span("subscriptions.add"):
            return self._store.add(sub)

    def get(self, notif_id):
        with self._tracer.span("subscriptions.get"):
            return self._store.get(notif_id)

    def remove(self, notif_id):
        with self._tracer.span("subscriptions.remove"):
            return self._store.remove(notif_id)

    def list(self):
        with self._tracer.span("subscriptions.list"):
            return self._store.list()


def counting_egress():
    """A WsEgress that counts the rows pushed at it and the frames sent."""
    from pei_nwdaf_data_ingestion_spark.streaming.ws_egress import WsEgress

    class CountingEgress(WsEgress):
        rows = 0
        frames = 0

        def broadcast(self, notif_id, message):
            sent = super().broadcast(notif_id, message)
            self.rows += 1
            self.frames += sent
            return sent

    return CountingEgress().start()


class Subscriber(threading.Thread):
    """A WebSocket client on /ws/ingestion/<key> recording (time, record)."""

    def __init__(self, host: str, port: int, key: str) -> None:
        super().__init__(daemon=True)
        self.key = key
        self.frames: list[tuple[float, dict]] = []
        self.sock = socket.create_connection((host, port), timeout=60)
        nonce = base64.b64encode(os.urandom(16)).decode()
        self.sock.sendall((
            f"GET /ws/ingestion/{key} HTTP/1.1\r\nHost: {host}:{port}\r\n"
            "Upgrade: websocket\r\nConnection: Upgrade\r\n"
            f"Sec-WebSocket-Key: {nonce}\r\nSec-WebSocket-Version: 13\r\n\r\n"
        ).encode())
        self.rfile = self.sock.makefile("rb")
        status = self.rfile.readline()
        if b" 101 " not in status:
            raise RuntimeError(f"websocket upgrade refused: {status!r}")
        while self.rfile.readline() not in (b"\r\n", b""):
            pass

    def run(self) -> None:
        from pei_nwdaf_data_ingestion_spark.streaming.ws_egress import read_ws_frame

        while True:
            try:
                opcode, data = read_ws_frame(self.rfile)
            except (ConnectionError, OSError, ValueError):
                return
            if opcode == 0x8:
                return
            if opcode == 0x1:
                self.frames.append((time.perf_counter(), json.loads(data)["data"]))

    def close(self) -> None:
        try:
            self.sock.shutdown(socket.SHUT_RDWR)
        except OSError:
            pass
        self.sock.close()
        self.join(timeout=10)


def _send(host: str, port: int, op: dict) -> int:
    conn = http.client.HTTPConnection(host, port, timeout=60)
    try:
        if op["kind"] == "delete":
            conn.request("DELETE", f"/nef/subscriptions/{op['notif_id']}")
        else:
            path = "/nef/subscriptions" if op["kind"] == "create" else "/nef/notify"
            conn.request("POST", path, body=json.dumps(op["body"]),
                         headers={"Content-Type": "application/json"})
        resp = conn.getresponse()
        resp.read()
        return resp.status
    finally:
        conn.close()


def open_loop(host: str, port: int, ops: list[dict], tracer, t0: float) -> list[dict]:
    """Send every op at t0 + due from SENDERS threads; returns per op
    {sent, done, status} (perf_counter times)."""
    todo: queue.Queue = queue.Queue()
    for i, op in enumerate(ops):
        todo.put(i)
    results: list[dict] = [{} for _ in ops]

    def worker() -> None:
        while True:
            try:
                i = todo.get_nowait()
            except queue.Empty:
                return
            delay = t0 + ops[i]["due"] - time.perf_counter()
            if delay > 0:
                time.sleep(delay)
            sent = time.perf_counter()
            with tracer.span("http_shim.request", request=str(i)):
                try:
                    status = _send(host, port, ops[i])
                except (OSError, http.client.HTTPException):
                    status = -1
            results[i] = {"sent": sent, "done": time.perf_counter(), "status": status}

    threads = [threading.Thread(target=worker) for _ in range(SENDERS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return results


def _op_of(rec: dict, n_ops: int, golden_ops: dict) -> int | None:
    i = rec.get("ts_unix", 0) - gen.PUSH_BASE_TS
    if 0 <= i < n_ops:
        return i
    return golden_ops.get((rec.get("ts_unix"), rec.get("event")))


def _drain(q, timeout: float) -> bool:
    """processAllAvailable with a time limit; True when every spooled file
    was committed in time."""
    t = threading.Thread(target=q.processAllAvailable, daemon=True)
    t.start()
    t.join(timeout)
    return not t.is_alive()


def run(spark, env, args, counter, work: str, subs) -> dict:
    """The probe on the live session `spark` and the backlog's store, with
    its own tracer."""
    from pei_nwdaf_data_ingestion_spark.streaming.http_shim import NotifyHTTPShim
    from pei_nwdaf_data_ingestion_spark.streaming.ingest import build_ingest_stream
    from pei_nwdaf_data_ingestion_spark.streaming.ws_egress import ws_fanout_foreach_batch

    tracer = Tracer(True)
    store = TracedStore(env.store, tracer)
    ws_keys = [s["notif_id"] for s in subs[:N_WS_KEYS]]
    ops = gen.push_schedule(args.seed, N_OPS + N_TAIL, RATE, subs, ws_keys)
    spool = os.path.join(work, "push-spool")
    egress = counting_egress()
    shim = NotifyHTTPShim(spool, known_notif_ids=lambda: [s["notif_id"] for s in store.list()],
                          store=store)
    host, port = shim.start()
    rec = BatchRecorder(spark, os.path.join(work, "push-sink"), tracer, counter,
                        ws_sink=ws_fanout_foreach_batch(egress))
    rec.split_every = 0
    q = (build_ingest_stream(spark, spool, env.store.load()).writeStream
         .foreachBatch(rec).option("checkpointLocation", os.path.join(work, "push-ckpt"))
         .start())
    subscribers = []
    try:
        # warm-up: one notification through the whole path, off the WS keys
        warm = {"kind": "notify", "body": gen.notification(
            random.Random(args.seed), subs[5]["notif_id"], "PERF_DATA", 1, False)[0]}
        _send(host, port, warm)
        q.processAllAvailable()
        rec.marks.clear()
        eh, ep = egress.address
        subscribers = [Subscriber(eh, ep, k) for k in ws_keys]
        for s in subscribers:
            s.start()
        while sum(egress.connections(k) for k in ws_keys) < len(ws_keys):
            time.sleep(0.01)

        backlog_max = [0]
        stop = threading.Event()

        def monitor() -> None:
            while not stop.is_set():
                spooled = sum(not f.startswith(".") for f in os.listdir(spool)) - 1  # - warm-up
                backlog_max[0] = max(backlog_max[0], spooled - len(rec.marks))
                time.sleep(0.05)

        mon = threading.Thread(target=monitor, daemon=True)
        mon.start()
        t0 = time.perf_counter()
        wall0 = time.time()
        results = open_loop(host, port, ops[:N_OPS], tracer, t0)
        log(f"push: {N_OPS} ops sent; draining")
        drained = _drain(q, DRAIN_TIMEOUT_S)
        stop.set()
        mon.join()
        main_epochs = set(rec.marks)

        rec.split_every = 1
        t_tail = time.perf_counter() - ops[N_OPS]["due"]
        results += open_loop(host, port, ops[N_OPS:], tracer, t_tail)
        drained = _drain(q, DRAIN_TIMEOUT_S) and drained
        time.sleep(0.5)  # frames already sent are in flight to the subscribers
    finally:
        for s in subscribers:
            s.close()
        q.stop()
        shim.stop()
        egress.stop()
    log("push: drained")
    rec.count_jobs()
    due_at = [t0 + op["due"] for op in ops[:N_OPS]] + [t_tail + op["due"] for op in ops[N_OPS:]]
    main = {e: m for e, m in rec.marks.items() if e in main_epochs}
    tail = {e: m for e, m in rec.marks.items() if e not in main_epochs}
    return _evaluate(ops, results, due_at, rec, subscribers, egress, tracer, wall0,
                     backlog_max[0], progress_layers(q.recentProgress, main),
                     progress_layers(q.recentProgress, tail), tail, drained)


def _evaluate(ops, results, due_at, rec, subscribers, egress, tracer, wall0,
              backlog_max, lay, lay_tail, tail, drained) -> dict:
    """Checks over every operation; end-to-end numbers over the main phase
    (the first N_OPS operations), layer shares over the traced tail."""
    n = len(ops)
    golden_ops = {(op["golden"]["ts_unix"], op["golden"]["event"]): i
                  for i, op in enumerate(ops) if "golden" in op}
    # Kafka-shaped sink: records per op and per type
    kafka: dict[int, dict[str, int]] = {}
    deliveries = []
    for wall, _, _, payload in read_messages(rec.sink_dir):
        for r in json.loads(payload):
            i = _op_of(r, n, golden_ops)
            if i is None:
                continue
            kafka.setdefault(i, {}).setdefault(r["event"], 0)
            kafka[i][r["event"]] += 1
            if i < N_OPS:
                deliveries.append(wall)
            if "golden" in ops[i] and r != ops[i]["golden"]:
                kafka[i]["golden_mismatch"] = 1
    # WS frames per op
    ws: dict[int, list[float]] = {}
    ws_golden_ok = True
    ws_keys = {s.key for s in subscribers}
    for s in subscribers:
        for t, r in s.frames:
            i = _op_of(r, n, golden_ops)
            if i is None:
                continue
            ws.setdefault(i, []).append(t)
            if "golden" in ops[i] and {k: v for k, v in r.items() if k != "notifId"} != ops[i]["golden"]:
                ws_golden_ok = False

    failed, lost_late, delivery, acks, lags = 0, 0, [], [], []
    for i, (op, res, due) in enumerate(zip(ops, results, due_at)):
        ok = res.get("status") == op["status"]
        timed = i < N_OPS
        if timed:
            acks.append(res["done"] - due if ok else float("inf"))
            lags.append(res["sent"] - due)
        want = sum(op["records"].values())
        got = kafka.get(i, {})
        if op.get("late"):
            # known defect: a subscription created after the stream started
            # is accepted but never reaches the dim; delivery is not required
            lost_late += want - sum(v for k, v in got.items() if k in gen.TYPES)
        elif want:
            ok = ok and {k: v for k, v in got.items() if k in gen.TYPES} == op["records"]
            ok = ok and "golden_mismatch" not in got
            if op["notif_id"] in ws_keys:
                times = ws.get(i, [])
                ok = ok and len(times) == want
                if timed:
                    delivery += [t - due for t in times]
                    delivery += [float("inf")] * max(0, want - len(times))
        failed += not ok

    self_t = tracer.self_times()
    cyc = sum(lay_tail["trigger"].values()) or float("nan")
    busy_tail = sum(m["end"] - m["start"] for e, m in tail.items() if e in lay_tail["trigger"])
    span = max(deliveries) - wall0 if deliveries else float("nan")
    layers = {
        "notify_push.records_per_s": len(deliveries) / span,
        "notify_push.delivery_p50_s": median(delivery),
        "notify_push.delivery_p90_s": pct(delivery, 0.9),
        "notify_push.batch_p50_s": median(list(lay["trigger"].values())),
        "notify_push.rows_per_batch_p50": lay["ingest.rows_per_batch_p50"],
        "notify_push.jobs_per_batch": lay["spark.jobs_per_batch"],
        "notify_push.share.nef": self_t.get("nef.normalize", 0.0) / cyc,
        "notify_push.share.sinks": self_t.get("sinks.kafka", 0.0) / cyc,
        "notify_push.share.ws_egress": self_t.get("ws_egress.fanout", 0.0) / cyc,
        "notify_push.share.ingest": (cyc - busy_tail + self_t.get("ingest.add_batch", 0.0)) / cyc,
        "notify_push.trace_overhead_s": median(list(lay_tail["trigger"].values()))
        - median(list(lay["trigger"].values())),
        "http_shim.ack_p50_s": median(acks),
        "http_shim.ack_p90_s": pct(acks, 0.9),
        "http_shim.status_mismatches": sum(r.get("status") != op["status"] for op, r in zip(ops, results)),
        "http_shim.sender_lag_p50_s": median(lags),
        "subscriptions.list_p50_s": median(tracer.durations("subscriptions.list")),
        "subscriptions.add_p50_s": median(tracer.durations("subscriptions.add")),
        "subscriptions.remove_p50_s": median(tracer.durations("subscriptions.remove")),
        "ingest.backlog_files_max": backlog_max,
        "ws_egress.fanout_p50_s": median(tracer.durations("ws_egress.fanout")),
        "ws_egress.rows_pulled": egress.rows,
        "ws_egress.frames_sent": egress.frames,
        "ws_egress.useful_share": egress.frames / egress.rows if egress.rows else 0.0,
        "defects.late_sub_records_lost": lost_late,
    }
    return {"attempted": n, "failed": failed, "layers": layers,
            "checks": {"push_ops": failed == 0, "push_ws_golden": ws_golden_ok,
                       "push_drained": drained}}
