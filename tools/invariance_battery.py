#!/usr/bin/env python
"""Run the full driver-contract gate under every invariance axis in turn
(SURVEY §5): default, non-UTC is always on inside driver_sim; this adds
task-layout, AQE-off, warm-table-cache, foreign-cwd and scale-shift
replays.  Each axis must end with "0 failures / N queries".  One axis per
subprocess - Spark sessions do not share cleanly across conf changes.
The cwd=/tmp axis runs the driver where Python workers cannot import the
package, so a closure shipped to them by reference fails there.

Usage: python tools/invariance_battery.py [--fast]
  --fast skips the sf0.1 scale-shift axis (the ~20 min one).
"""

from __future__ import annotations

import os
import subprocess
import sys

AXES = [
    ("default(sf0.01, local[8]/8, non-UTC)", {}),
    ("layout(local[3]/3)", {"DRIVER_SIM_CORES": "3", "DRIVER_SIM_PARTITIONS": "3"}),
    ("aqe-off", {"DRIVER_SIM_CONF": "spark.sql.adaptive.enabled=false"}),
    ("cache-on(SPARK_GRAFT_CACHE=1)", {"SPARK_GRAFT_CACHE": "1"}),
    ("cwd=/tmp", {}),
    ("scale-shift(sf0.1)", {"DRIVER_SIM_SF_DIR": "/root/testdata/sf0.1"}),
]
# axes that also move the driver's working directory
CWD = {"cwd=/tmp": "/tmp"}


def main() -> int:
    here = os.path.dirname(os.path.abspath(__file__))
    axes = AXES[:-1] if "--fast" in sys.argv else AXES  # sf0.1 is last
    failed = []
    for name, env in axes:
        print(f"=== axis: {name}", flush=True)
        r = subprocess.run(
            [sys.executable, os.path.join(here, "driver_sim.py")],
            env={**os.environ, **env},
            cwd=CWD.get(name),
            capture_output=True,
            text=True,
        )
        tail = (r.stdout.strip().splitlines() or ["<no output>"])[-1]
        print(f"    {tail}", flush=True)
        if r.returncode != 0 or not tail.startswith("0 failures"):
            failed.append(name)
    if failed:
        print(f"FAILED axes: {failed}")
        return 1
    print(f"all {len(axes)} axes green")
    return 0


if __name__ == "__main__":
    sys.exit(main())
