"""materialize.py: builds keyed on the source's fingerprint, clear()."""

from __future__ import annotations

import os
import shutil

import duckdb
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from pei_nwdaf_data_ingestion_spark import materialize, registry
from tests.conftest import SF_DIR


@pytest.mark.parametrize("warm_tables", ["0", "1"])
def test_table_rewritten_in_place_is_not_served_stale(
    spark, tmp_path, monkeypatch, warm_tables
):
    """graph_triangle_count keeps its projection across invocations; once
    lineitem is rewritten at the same path with other rows, the next
    invocation answers for the new rows (warm table cache off and on)."""
    monkeypatch.setenv("SPARK_GRAFT_CACHE", warm_tables)
    registry.load_all()
    sf = str(tmp_path)
    path = os.path.join(sf, "lineitem.parquet")
    shutil.copy(os.path.join(SF_DIR, "lineitem.parquet"), path)
    query = registry.QUERIES["graph_triangle_count"]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{path}')")
    try:
        before = [tuple(r) for r in query(spark, sf).collect()]
        assert before == con.execute(registry.ORACLES["graph_triangle_count"]).fetchall()
        li = pq.read_table(path)  # sf0.001: ten suppliers, the complete K10
        pq.write_table(li.filter(pc.less_equal(li["l_suppkey"], 6)), path)
        after = [tuple(r) for r in query(spark, sf).collect()]
        assert after == con.execute(registry.ORACLES["graph_triangle_count"]).fetchall()
        assert after != before
    finally:
        con.close()
        materialize.clear(under=sf)


def test_entries_per_params_source_and_clear_under(spark, tmp_path):
    """A hit returns the stored object unbuilt; params and source separate
    entries; a directory source changes with any file under it;
    clear(under=...) drops only entries at or under that path (not a
    sibling sharing its name prefix), unpersisting DataFrames in tuples."""
    dirs = [tmp_path / "sf1", tmp_path / "sf10"]
    for d in dirs:
        d.mkdir()
        (d / "t.parquet").write_bytes(b"v1")
    srcs = [str(d) for d in dirs]
    calls = []

    def build():
        calls.append(1)
        df = spark.range(10 + len(calls)).cache()  # distinct plans
        df.count()
        return df, len(calls)

    try:
        first = materialize.materialize(spark, srcs[0], (), build)
        assert materialize.materialize(spark, srcs[0], (), build) is first
        assert materialize.materialize(spark, srcs[0], (2,), build)[1] == 2
        other = materialize.materialize(spark, srcs[1], (), build)
        (dirs[1] / "t.parquet").write_bytes(b"v22")
        assert materialize.materialize(spark, srcs[1], (), build)[1] == 4
        assert not other[0].storageLevel.useMemory  # the stale entry's
        other = materialize.materialize(spark, srcs[1], (), build)
        materialize.clear(under=srcs[0])
        assert not first[0].storageLevel.useMemory
        assert materialize.materialize(spark, srcs[1], (), build) is other
        assert materialize.materialize(spark, srcs[0], (), build)[1] == 5
    finally:
        materialize.clear(under=str(tmp_path))
    assert not other[0].storageLevel.useMemory
