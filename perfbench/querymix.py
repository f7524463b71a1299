"""query_mix: one closed-loop client over headline query ids.

The ids are taken from the registry (`registry.RAW_QUERIES`) with default
settings and run on fixture tables generated from the seed.  Two untimed
passes pay codegen, JIT and index builds (the first is reported as
queries.first_pass_s); then whole passes in a
seeded shuffled order run until --seconds have passed (at least three).
Each execution is builder call -> result materialized as (result_digest,
row count) via `registry.append_result_digest`, and must match the first
execution of the same id.
"""

from __future__ import annotations

import os
import random
import time

import gen
from common import log, repeated_setup
from tracing import JobCounter, median, pct

# A fixed subset of bench.py's HEADLINE list (copied, so edits there cannot
# change this workload): one or more per query module, the multimodal
# container decode included.
QUERY_IDS = [
    "agg_groupby_hash",          # relational: TPC-H Q1 shape
    "win_rank_topk",             # windows
    "json_extract",              # scalars
    "dedup_exact",               # llm
    "ref_context_enrich",        # refsem
    "multimodal_decode",         # multimodal_queries: mapInPandas decode
]
SCALE = 0.01
# a pass takes 3.5-5 s, so three passes fill --seconds 10 on fast and slow
# hosts alike and every run times the same work
MIN_PASSES = 3


def _prepare(spark, sf_dir: str) -> None:
    """The set-up step after the session start: query registration and a
    resolved scan of every fixture table."""
    from pei_nwdaf_data_ingestion_spark import catalog, registry

    registry.load_all()
    for t in catalog.TABLES:
        catalog.load(spark, sf_dir, t).schema  # noqa: B018 - resolves the scan


def _execute(spark, name: str, sf_dir: str, tracer, counter, tag: str):
    from pei_nwdaf_data_ingestion_spark import registry

    group = f"perfbench-{tag}"
    spark.sparkContext.setJobGroup(group, group)
    t0 = time.perf_counter()
    with tracer.span("query", request=tag):
        with tracer.span("queries.plan", request=tag):
            df = registry.RAW_QUERIES[name](spark, sf_dir)
        t1 = time.perf_counter()
        with tracer.span("queries.exec", request=tag):
            rows = registry.append_result_digest(df).groupBy("result_digest").count().collect()
    t2 = time.perf_counter()
    result = (rows[0]["result_digest"], rows[0]["count"]) if rows else (None, 0)
    jobs = counter.count(group) if tracer.enabled else (0, 0, 0)
    return result, t2 - t0, t1 - t0, t2 - t1, jobs


def run(args, tracer, work: str) -> dict:
    from pei_nwdaf_data_ingestion_spark import registry

    sf_dir = os.path.join(work, "tables")
    gen.write_tables(args.seed, sf_dir, SCALE)
    spark, _, setups, sessions = repeated_setup(lambda s, i: _prepare(s, sf_dir))
    counter = JobCounter(spark.sparkContext)

    first: dict[str, tuple] = {}
    t0 = time.perf_counter()
    for name in QUERY_IDS:
        first[name] = _execute(spark, name, sf_dir, tracer, counter, f"first-{name}")[0]
    first_pass = time.perf_counter() - t0
    for name in QUERY_IDS:
        _execute(spark, name, sf_dir, tracer, counter, f"warm-{name}")
    log(f"first pass {first_pass:.2f}s, warm pass {time.perf_counter() - t0 - first_pass:.2f}s")

    rng = random.Random(f"query-order-{args.seed}")
    samples = []  # (name, total, plan, exec, jobs, ok, traced)
    t_start = time.perf_counter()
    passes = 0
    while passes < MIN_PASSES or time.perf_counter() - t_start < args.seconds:
        order = list(QUERY_IDS)
        rng.shuffle(order)
        # traced runs alternate traced and untraced passes: the difference
        # of their medians is the tracing overhead
        tracer.enabled = bool(args.trace) and passes % 2 == 0
        for name in order:
            res, total, plan, execute, jobs = _execute(
                spark, name, sf_dir, tracer, counter, f"p{passes}-{name}")
            samples.append((name, total, plan, execute, jobs, res == first[name], tracer.enabled))
        passes += 1
        log(f"pass {passes}: {[round(s[1], 2) for s in samples[-len(order):]]}")
    tracer.enabled = bool(args.trace)
    elapsed = time.perf_counter() - t_start
    log(f"{passes} timed passes, {len(samples)} executions in {elapsed:.2f}s")

    failed = sum(not s[5] for s in samples)
    times = [s[1] if s[5] else float("inf") for s in samples]
    out = {
        "setups": setups, "sessions": sessions,
        "checks": {"results_repeat": failed == 0,
                   "non_empty": all(first[n][1] > 0 for n in QUERY_IDS)},
        "attempted": len(samples), "failed": failed,
        "throughput": len(samples) / elapsed,
        "lat_p50": median(times),
        "named": {"queries_per_s": (len(samples) / elapsed, "1/s"),
                  "query_p50_s": (median(times), "s"),
                  "query_p90_s": (pct(times, 0.9), "s")},
        "layers": {},
    }
    if tracer.enabled:
        traced = [s for s in samples if s[6]]
        layers = out["layers"]
        layers.update({
            "queries.first_pass_s": first_pass,
            "queries.plan_p50_s": median([s[2] for s in traced]),
            "queries.exec_p50_s": median([s[3] for s in traced]),
            "spark.jobs_per_query": median([s[4][0] for s in traced]),
            "spark.tasks_per_query": median([s[4][2] for s in traced]),
            "trace.overhead_s": median([s[1] for s in traced])
            - median([s[1] for s in samples if not s[6]]),
        })
        by_module: dict[str, list[float]] = {}
        for s in samples:
            mod = registry.RAW_QUERIES[s[0]].__module__.rsplit(".", 1)[-1]
            by_module.setdefault(mod, []).append(s[1])
        for mod, vals in by_module.items():
            layers[f"queries.{mod}.p50_s"] = median(vals)
    return out
