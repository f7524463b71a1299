"""Pieces shared by the two ingest workloads: the subscription-store
environment, the foreachBatch wrapper that records per-batch timing and
Spark job counts, and the per-layer numbers read back from the stream's
progress events."""

from __future__ import annotations

import os
import time

import gen
from sinkrec import ProducerFactory, count_by_type
from tracing import median, pct

TOPIC = "nwdaf.records"


def store_subscriptions(spark, path: str, subs: list[dict]):
    """A SubscriptionStore holding `subs`, written as one log append (the
    store's own write path), and its compaction view as the stream's dim."""
    from pei_nwdaf_data_ingestion_spark.pipeline.subscriptions import SubscriptionStore

    store = SubscriptionStore(spark, path)
    store._append(subs, deleted=False)
    return store, store.load()


class BatchRecorder:
    """foreachBatch wrapper around the program's sinks.

    In a traced run every batch runs under its own Spark job group, so
    jobs, stages and tasks can be counted per batch once the run is over
    (`count_jobs`).  A split batch materializes the normalized batch first,
    so the normalize and sink times split apart; the rest run the sinks on
    the lazy batch exactly as an untraced run does.  `split_every` picks the
    split batches: 2 (the default when tracing is on) splits every other
    one, 1 every one, 0 none."""

    def __init__(self, spark, sink_dir: str, tracer, counter, ws_sink=None) -> None:
        self.spark = spark
        self.sink_dir = sink_dir
        self.tracer = tracer
        self.counter = counter
        self.ws_sink = ws_sink
        self.split_every = 2 if tracer.enabled else 0
        self.marks: dict[int, dict] = {}
        os.makedirs(sink_dir, exist_ok=True)

    def __call__(self, batch, epoch: int) -> None:
        from pei_nwdaf_data_ingestion_spark.streaming.sinks import kafka_foreach_batch

        group = f"perfbench-batch-{epoch}"
        if self.tracer.enabled:
            self.spark.sparkContext.setJobGroup(group, group)
        kafka = kafka_foreach_batch(TOPIC, "in-process", ProducerFactory(self.sink_dir, epoch))
        traced = self.split_every > 0 and epoch % self.split_every == self.split_every - 1
        mark = {"traced": traced, "start": time.perf_counter(), "jobs": (0, 0, 0)}
        if traced:
            with self.tracer.span("ingest.add_batch", request=epoch):
                with self.tracer.span("nef.normalize", request=epoch):
                    mat = batch.persist()
                    by_key = {r["notifId"]: r["count"] for r in mat.groupBy("notifId").count().collect()}
                with self.tracer.span("sinks.kafka", request=epoch):
                    kafka(mat, epoch)
                if self.ws_sink is not None:
                    with self.tracer.span("ws_egress.fanout", request=epoch):
                        self.ws_sink(mat, epoch)
                mat.unpersist()
            mark["by_key"] = by_key
        else:
            kafka(batch, epoch)
            if self.ws_sink is not None:
                self.ws_sink(batch, epoch)
        mark["end"] = time.perf_counter()
        if self.tracer.enabled:
            mark["group"] = group
        self.marks[epoch] = mark

    def count_jobs(self) -> None:
        """Fill each grouped batch's (jobs, stages, tasks) from the status
        tracker; done after the run, so the counting costs no batch time."""
        for mark in self.marks.values():
            if "group" in mark:
                mark["jobs"] = self.counter.count(mark["group"])


def progress_layers(progress: list, marks: dict[int, dict]) -> dict:
    """Per-layer ingest numbers from StreamingQueryProgress events and the
    wrapper's marks.  A batch's time is its triggerExecution: listing,
    planning, the foreachBatch call and the commits."""
    dur = {p.batchId: p.durationMs for p in progress if p.numInputRows and p.batchId in marks}
    trigger = {e: d.get("triggerExecution", 0) / 1000.0 for e, d in dur.items()}
    rows = [p.numInputRows for p in progress if p.numInputRows and p.batchId in marks]

    def p50_ms(key: str) -> float:
        return median([d.get(key, 0) / 1000.0 for d in dur.values()]) if dur else 0.0

    plain = [e for e in marks if not marks[e]["traced"]]
    busy = sum(marks[e]["end"] - marks[e]["start"] for e in trigger)
    jobs = [marks[e]["jobs"] for e in plain] or [(0, 0, 0)]
    times = list(trigger.values())
    return {
        "trigger": trigger,
        "ingest.batches": len(trigger),
        "ingest.rows_per_batch_p50": median(rows) if rows else 0,
        "ingest.batch_p50_s": median(times) if times else 0.0,
        "ingest.batch_p90_s": pct(times, 0.9) if times else 0.0,
        "ingest.busy_share": busy / sum(times) if times else 0.0,
        "ingest.add_batch_p50_s": p50_ms("addBatch"),
        "ingest.query_planning_p50_s": p50_ms("queryPlanning"),
        "ingest.latest_offset_p50_s": p50_ms("latestOffset"),
        "ingest.wal_commit_p50_s": p50_ms("walCommit"),
        "ingest.commit_offsets_p50_s": p50_ms("commitOffsets"),
        "spark.jobs_per_batch": median([j[0] for j in jobs]),
        "spark.stages_per_batch": median([j[1] for j in jobs]),
        "spark.tasks_per_batch": median([j[2] for j in jobs]),
    }


def message_stats(messages) -> dict:
    """Sink-side counts over recorded Kafka messages."""
    recs = 0
    by_type = {t: 0 for t in gen.TYPES}
    for _, _, _, payload in messages:
        for t, n in count_by_type(payload, gen.TYPES).items():
            by_type[t] += n
            recs += n
    return {
        "sinks.messages": len(messages),
        "sinks.bytes": sum(len(m[3].encode()) for m in messages),
        "sinks.records_per_message": recs / len(messages) if messages else 0.0,
        **{f"nef.records_out.{t}": n for t, n in by_type.items()},
    }


def check_n_records(marks: dict[int, dict], messages) -> int:
    """Traced batches only: per key, the records counted in the materialized
    batch must equal the length of the key's message array.  Returns the
    number of mismatching (batch, key) pairs."""
    got: dict[tuple[int, str], int] = {}
    for _, epoch, key, payload in messages:
        got[(epoch, key)] = got.get((epoch, key), 0) + sum(count_by_type(payload, gen.TYPES).values())
    bad = 0
    for e, m in marks.items():
        for key, n in m.get("by_key", {}).items():
            bad += got.get((e, key)) != n
    return bad
