"""Catalog load invariants.

The driver regenerates /root/testdata fixtures between rounds, and parquet
timestamp encodings have already shifted twice (TIMESTAMP(NANOS) in r1-r3,
isAdjustedToUTC=false TIMESTAMP_MICROS since r4 - which Spark 4.x loads as
TIMESTAMP_NTZ).  `unix_millis()` and `withWatermark()` reject NTZ, so a
silent fixture regeneration must fail HERE, not in the driver's sample.
catalog._read is the single choke point every query loads through; it must
always yield plain TimestampType for time columns.
"""

from __future__ import annotations

from pyspark.sql import types as T

from pei_nwdaf_data_ingestion_spark import catalog

from conftest import SF_DIR

# every fixture table's time column(s) - extend if the driver adds tables
TIME_COLS = {
    "events": ["ts"],
    "orders": ["o_orderdate"],
    "lineitem": ["l_shipdate"],
}


def test_no_ntz_ever_leaves_the_catalog(spark):
    for table in catalog.TABLES:
        df = catalog.load(spark, SF_DIR, table)
        ntz = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, T.TimestampNTZType)
        ]
        assert not ntz, (
            f"{table}: columns {ntz} load as TIMESTAMP_NTZ - catalog._read "
            f"must cast them to TimestampType (unix_millis/withWatermark "
            f"reject NTZ)"
        )


def test_time_columns_are_plain_timestamps(spark):
    for table, cols in TIME_COLS.items():
        df = catalog.load(spark, SF_DIR, table)
        for c in cols:
            dt = df.schema[c].dataType
            assert isinstance(dt, T.TimestampType), (
                f"{table}.{c}: expected TimestampType, got {dt}"
            )


def test_ntz_cast_is_value_preserving_utc(spark):
    """The NTZ->timestamp cast reinterprets the wall clock as UTC (session
    TZ pinned in catalog.load), matching DuckDB's rendering of the same
    file - pin one concrete value end-to-end."""
    import duckdb

    ev = catalog.load(spark, SF_DIR, "events")
    got = (
        ev.orderBy("event_id")
        .selectExpr("date_format(ts, 'yyyy-MM-dd HH:mm:ss') AS s")
        .first()["s"]
    )
    want = duckdb.sql(
        f"SELECT strftime(ts, '%Y-%m-%d %H:%M:%S') FROM "
        f"read_parquet('{SF_DIR}/events.parquet') ORDER BY event_id LIMIT 1"
    ).fetchone()[0]
    assert got == want


def test_cache_partitioning_floors_at_shuffle_width(spark, monkeypatch):
    """r6 regression pin (VERDICT r5 item 1): the warm table cache must
    never coalesce a non-tiny table below the shuffle width - a
    1-partition cached documents table starved every self-join pipeline
    (PPJoin measured 2-3x slower).  Tiny dims still coalesce to 1."""
    from pei_nwdaf_data_ingestion_spark import materialize

    monkeypatch.setenv("SPARK_GRAFT_CACHE", "1")
    sf = "/root/testdata/sf0.01"  # lineitem is ~1 MiB here (>= 256 KiB gate)
    materialize.clear(under=sf)
    try:
        li = catalog.load(spark, sf, "lineitem")
        shuf = int(spark.conf.get("spark.sql.shuffle.partitions"))
        want = min(spark.sparkContext.defaultParallelism, max(shuf, 1))
        assert li.rdd.getNumPartitions() >= want
        assert catalog.load(spark, sf, "region").rdd.getNumPartitions() == 1
    finally:
        materialize.clear(under=sf)
