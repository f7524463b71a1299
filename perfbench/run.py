#!/usr/bin/env python3
"""Benchmark of the NWDAF ingest engine: NEF ingest dataflow and query surface.

    python3 perfbench/run.py --workload {nef_backlog,query_mix}
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout.  Inputs are generated from --seed; the
program sees only those inputs, through its public modules.  The last line
of stdout is one JSON object {correct, attempted, failed, metrics}: with
--trace 0 the end-to-end metrics of BENCHMARK.json, with --trace 1 the
per-layer ones.  The untraced run also prints, on the line before, the
workload's metrics under their own names: records_per_s and batch_p50_s
for nef_backlog; queries_per_s, query_p50_s and query_p90_s for query_mix.
See perfbench/DESIGN.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402
from tracing import Tracer, median, rss_peak_mb  # noqa: E402

WORKLOADS = ("nef_backlog", "query_mix")


def per_layer_units() -> dict[str, str]:
    with open(os.path.join(common.ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not common.program_present():
        print(f"perfbench: program package {common.PACKAGE!r} not found under {common.ROOT}",
              file=sys.stderr)
        return 2

    work = common.prepare_env(args.workload)
    tracer = Tracer(bool(args.trace))
    try:
        if args.workload == "nef_backlog":
            import backlog as mod
        else:
            import querymix as mod
        res = mod.run(args, tracer, work)
        rss = rss_peak_mb(common.java_pids())
    except Exception:  # noqa: BLE001 - report and exit non-zero, no result line
        traceback.print_exc()
        return 1
    finally:
        common.shutdown(work)

    correct = all(res["checks"].values())
    if not correct:
        print(f"perfbench: failed checks: {[k for k, v in res['checks'].items() if not v]}",
              file=sys.stderr)
    if args.trace:
        layers = res["layers"]
        layers["session.start_s"] = res["sessions"][0]
        layers["setup.warm_p50_s"] = median(res["setups"][1:])
        layers["process.rss_peak_mb"] = rss
        metrics = {}
        for name, unit in per_layer_units().items():
            metrics[name] = {"value": _num(layers.get(name, 0)), "unit": unit}
    else:
        print(json.dumps({"workload": args.workload, "metrics": {
            k: {"value": _num(v), "unit": u} for k, (v, u) in res["named"].items()}}))
        metrics = {
            "setup_s": {"value": res["setups"][0], "unit": "s"},
            "throughput_per_s": {"value": res["throughput"], "unit": "1/s"},
            "latency_p50_s": {"value": res["lat_p50"], "unit": "s"},
        }
    print(json.dumps({"correct": correct, "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))
    return 0


def _num(v):
    v = float(v)
    return v if math.isfinite(v) else 1e9


if __name__ == "__main__":
    sys.exit(main())
