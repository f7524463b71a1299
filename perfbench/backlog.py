"""nef_backlog: drain a pre-spooled backlog of large JSON-lines files.

Path: `build_ingest_stream` over the spool directory, the dim from
`SubscriptionStore.load()`, `kafka_foreach_batch` with the recording
producer; one file per micro-batch.  One query runs from warm-up to
measurement, so the measured batches pay no query start: warm-up files are
spooled and drained, then the measured files are moved into the spool
together and drained.  No HTTP, no WebSocket, no store writes.
"""

from __future__ import annotations

import json
import math
import os
import time

import gen
import push
from ingest_common import (BatchRecorder, check_n_records, message_stats,
                           progress_layers, store_subscriptions)
from sinkrec import count_by_type, read_messages
from common import log, repeated_setup, start_session
from tracing import JobCounter, Tracer, median

FILE_BLOCKS = 96  # blocks of 64 notifications per spooled file
FILE_NOTIFS = len(gen.GOLDEN) + 64 * FILE_BLOCKS
# batch times still fall through the second warm-up file (JIT)
WARM_FILES = 2
MIN_FILES = 3
REFERENCE_RPS_PER_CORE = 144_000  # the reference's interpreted normalizer


class Env:
    def __init__(self, spark, work: str, i: int, subs) -> None:
        from pei_nwdaf_data_ingestion_spark.streaming.ingest import build_ingest_stream

        self.store, dim = store_subscriptions(spark, os.path.join(work, f"subs{i}"), subs)
        self.spool = os.path.join(work, f"spool{i}")
        os.makedirs(self.spool)
        self.stream = build_ingest_stream(spark, self.spool, dim)
        self.ckpt = os.path.join(work, f"ckpt{i}")


def _spool(env: Env, seed: int, first: int, count: int, pool):
    """Write `count` backlog files, then move them into the spool together;
    returns each file's expected records per type and the infos they carry
    in total."""
    staging = env.spool + ".staging"
    os.makedirs(staging, exist_ok=True)
    expects, infos, names = [], 0, []
    for idx in range(first, first + count):
        text, exp, n_infos = gen.backlog_file(seed, idx, FILE_BLOCKS, pool)
        names.append(f"part-{idx:05d}.json")
        with open(os.path.join(staging, names[-1]), "w") as f:
            f.write(text)
        expects.append(exp)
        infos += n_infos
    for name in names:
        os.replace(os.path.join(staging, name), os.path.join(env.spool, name))
    return expects, infos


class Drain:
    """One continuously triggered query over the spool, kept running from
    warm-up to measurement; each micro-batch goes to the current recorder."""

    def __init__(self, env: Env) -> None:
        self.recorder = None
        self.query = (env.stream.writeStream.foreachBatch(self._batch)
                      .option("checkpointLocation", env.ckpt).start())

    def _batch(self, batch, epoch: int) -> None:
        self.recorder(batch, epoch)

    def wait(self) -> None:
        """Block until every spooled file is committed."""
        self.query.processAllAvailable()

    def stop(self) -> None:
        self.query.stop()


def _golden_ok(messages) -> bool:
    """Every message of the golden key holds exactly the three golden
    records (the generator sends nothing else to that key)."""
    want = sorted(json.dumps(rec, sort_keys=True) for _, rec in gen.GOLDEN)
    seen = [m for m in messages if m[2] == gen.GOLDEN_SUB["notif_id"]]
    return bool(seen) and all(
        sorted(json.dumps(r, sort_keys=True) for r in json.loads(m[3])) == want for m in seen
    )


def run(args, tracer, work: str) -> dict:
    subs = gen.subscriptions(args.seed)
    pool = gen.block_pool(args.seed, subs)
    spark, env, setups, sessions = repeated_setup(lambda s, i: Env(s, work, i, subs))
    counter = JobCounter(spark.sparkContext)
    out = {"setups": setups, "sessions": sessions}

    # warm-up: JIT and codegen on full-size batches, then size the measured set
    drain = Drain(env)
    try:
        drain.recorder = warm = BatchRecorder(spark, os.path.join(work, "sink-warm"),
                                              Tracer(False), counter)
        _spool(env, args.seed, 0, WARM_FILES, pool)
        drain.wait()
        warm_times = list(progress_layers(drain.query.recentProgress, warm.marks)["trigger"].values())
        # +1: the first batch after the switch to the measured files runs
        # slower on every seed; it is checked but not timed
        n_files = max(MIN_FILES, math.ceil(args.seconds / warm_times[-1])) + 1
        log(f"warm-up batches {[round(t, 2) for t in warm_times]}; measuring {n_files} files")

        drain.recorder = rec = BatchRecorder(spark, os.path.join(work, "sink"), tracer, counter)
        expects, infos = _spool(env, args.seed, WARM_FILES, n_files, pool)
        drain.wait()
        progress = drain.query.recentProgress
    finally:
        drain.stop()
    rec.count_jobs()
    epochs = sorted(rec.marks)
    timed = {e: rec.marks[e] for e in epochs[1:]}
    layers = progress_layers(progress, timed)
    batch_s = layers.pop("trigger")
    log(f"measured batches {[round(t, 2) for t in batch_s.values()]}")
    messages = read_messages(rec.sink_dir)

    # files are drained in the order they were written, one per batch
    got = {e: {t: 0 for t in gen.TYPES} for e in epochs}
    for _, epoch, _, payload in messages:
        for t, n in count_by_type(payload, gen.TYPES).items():
            got.setdefault(epoch, {t: 0 for t in gen.TYPES})[t] += n
    failed = sum(got.get(e) != exp for e, exp in zip(epochs, expects))
    failed += max(0, n_files - len(epochs))
    rates = [sum(got[e].values()) / batch_s[e] for e in batch_s]
    plain = [e for e in batch_s if not timed[e]["traced"]]
    traced = [e for e in batch_s if timed[e]["traced"]]
    checks = {
        "records_per_batch": failed == 0,
        "golden": _golden_ok(messages),
    }
    if any(m["traced"] for m in rec.marks.values()):
        # only split batches count their records per key before the sink
        checks["n_records"] = check_n_records(rec.marks, messages) == 0
    out.update(
        checks=checks,
        attempted=n_files,
        failed=failed,
        throughput=median(rates),
        lat_p50=median(list(batch_s.values())),
        named={"records_per_s": (median(rates), "1/s"),
               "batch_p50_s": (median(list(batch_s.values())), "s")},
        layers=layers,
    )
    if not tracer.enabled:
        return out

    self_t = tracer.self_times()
    cyc_traced = sum(batch_s[e] for e in traced)
    layers.update(message_stats(messages))
    layers.update({
        "nef.normalize_p50_s": median(tracer.durations("nef.normalize")),
        "nef.notifications_in": len(batch_s) * FILE_NOTIFS,
        # the source's row count over the notifications it was given: how
        # many times each batch's input is scanned and parsed
        "ingest.source_reads_per_batch": layers["ingest.rows_per_batch_p50"] / FILE_NOTIFS,
        "nef.yield": sum(sum(g.values()) for g in got.values()) / infos,
        "sinks.kafka_p50_s": median(tracer.durations("sinks.kafka")),
        "share.nef": self_t.get("nef.normalize", 0.0) / cyc_traced,
        "share.sinks": self_t.get("sinks.kafka", 0.0) / cyc_traced,
        "share.ingest": (cyc_traced - sum(rec.marks[e]["end"] - rec.marks[e]["start"] for e in traced)
                         + self_t.get("ingest.add_batch", 0.0)) / cyc_traced,
        "trace.overhead_s": median([batch_s[e] for e in traced]) - median([batch_s[e] for e in plain]),
    })
    t_load = time.perf_counter()
    env.store.load().count()
    layers["subscriptions.load_s"] = time.perf_counter() - t_load
    log("push probe")
    probe = push.run(spark, env, args, counter, work, subs)
    layers.update(probe["layers"])
    out["attempted"] += probe["attempted"]
    out["failed"] += probe["failed"]
    out["checks"].update(probe["checks"])
    # after the probe's control-plane writes: every one appends a log file
    layers["subscriptions.log_files"] = sum(f.endswith(".parquet") for f in os.listdir(env.store.path))
    spark.stop()
    layers.update(one_core(args, work, subs, pool))
    return out


def one_core(args, work, subs, pool) -> dict:
    """Single-core drain of the same kind of files: records/s on local[1],
    next to the reference's interpreted normalizer."""
    spark = start_session(cores=1)
    plain = Tracer(False)
    env = Env(spark, work, 99, subs)
    drain = Drain(env)
    try:
        drain.recorder = rec = BatchRecorder(spark, os.path.join(work, "sink-1core"), plain,
                                             JobCounter(spark.sparkContext))
        _spool(env, args.seed, 1000, 2, pool)
        drain.wait()
        batch_s = progress_layers(drain.query.recentProgress, rec.marks)["trigger"]
    finally:
        drain.stop()
    per_epoch: dict[int, int] = {}
    for _, epoch, _, payload in read_messages(rec.sink_dir):
        per_epoch[epoch] = per_epoch.get(epoch, 0) + sum(count_by_type(payload, gen.TYPES).values())
    # the first batch on the fresh local[1] session warms it up
    rps = median([per_epoch.get(e, 0) / batch_s[e] for e in sorted(batch_s)[1:]])
    return {"nef_backlog.records_per_s_1core": rps,
            "nef_backlog.share_of_reference_1core": rps / REFERENCE_RPS_PER_CORE}
