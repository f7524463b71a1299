"""Process set-up shared by the workloads: paths, Spark environment, the
repeated set-up measurement and clean shutdown.

Everything the benchmark writes goes under `.bench_work/` in the checkout:
spooled input, stream checkpoints, the subscription log, Spark's local and
temp directories and the generated fixture tables.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "pei_nwdaf_data_ingestion_spark"
SETUPS = 3  # set-ups per run; the first, cold one is setup_s
_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress line on stderr, stamped with seconds since start."""
    print(f"perfbench {time.perf_counter() - _T0:7.2f}s {msg}", file=sys.stderr, flush=True)


def program_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py"))


def prepare_env(workload: str) -> str:
    """Create the run's work directory and point Spark, the JVM and Python
    temp files into it.  Must run before pyspark launches the JVM."""
    work = os.path.join(ROOT, ".bench_work", f"{workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # Python workers import the program and this directory's modules
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.local.dir={tmp} "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        "pyspark-shell"
    )
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)
    return work


def start_session(cores: int | None = None):
    from pei_nwdaf_data_ingestion_spark.session import get_spark

    spark = get_spark(app_name="perfbench", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def repeated_setup(make):
    """Run `make(spark, i)` after a fresh session start, SETUPS times; all
    sessions but the last are stopped again.  Only the first set-up
    launches the JVM; the later ones start a session in the running JVM.
    Returns the live (spark, env), the set-up times and the session-start
    times."""
    total, session = [], []
    spark = env = None
    for i in range(SETUPS):
        t0 = time.perf_counter()
        spark = start_session()
        t1 = time.perf_counter()
        env = make(spark, i)
        total.append(time.perf_counter() - t0)
        session.append(t1 - t0)
        log(f"set-up {i}: {total[-1]:.2f}s (session {session[-1]:.2f}s)")
        if i < SETUPS - 1:
            spark.stop()
    return spark, env, total, session


def java_pids() -> list[int]:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return [proc.pid] if proc is not None else []


def shutdown(work: str) -> None:
    """Stop the active session, then the JVM, wait for it to exit, and
    remove the work directory.  Safe to call when no JVM was started."""
    try:
        from pyspark import SparkContext
    except ImportError:
        SparkContext = None
    gateway = SparkContext._gateway if SparkContext else None
    proc = getattr(gateway, "proc", None)
    try:
        if SparkContext and SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        if SparkContext:
            SparkContext._gateway = None
            SparkContext._jvm = None
        shutil.rmtree(work, ignore_errors=True)
