"""Per-application materialization of deterministic builds.

Index builds (IVF centroids and inverted file, PQ codebook and codes, LSH
signatures and pairs, graph projections and adjacency) and the warm table
cache (catalog.load under SPARK_GRAFT_CACHE=1) are pure functions of one
source table and a few params; an index is built once and probed many
times.  An entry is keyed on the application id, the builder's qualified
name, its params and the source path, and remembers the source's
(size, mtime_ns): a table rewritten at the same path is rebuilt, never
served stale.  `params` carries every module constant that changes the
result; physical-only knobs stay out.
"""

from __future__ import annotations

import os
import stat
from collections.abc import Callable, Hashable

from pyspark.sql import DataFrame, SparkSession

# (application id, builder name, params, source path) -> (stamp, result)
_ENTRIES: dict[tuple, tuple[tuple[int, int], object]] = {}


def _stamp(path: str) -> tuple[int, int]:
    """(size, mtime_ns) of a file; of a directory, summed over the files
    under it with the newest mtime, so rewriting any one changes it."""
    st = os.stat(path)
    if not stat.S_ISDIR(st.st_mode):
        return st.st_size, st.st_mtime_ns
    size, mtime = 0, st.st_mtime_ns
    for root, _dirs, files in os.walk(path):
        for f in (os.stat(os.path.join(root, name)) for name in files):
            size, mtime = size + f.st_size, max(mtime, f.st_mtime_ns)
    return size, mtime


def _release(value: object) -> None:
    if isinstance(value, DataFrame):
        value.unpersist(blocking=True)
    elif isinstance(value, tuple):
        for v in value:
            _release(v)


def materialize(spark: SparkSession, sf_or_path: str, params: Hashable, build: Callable):
    """`build()` for this application, source and params: run on the first
    call and again whenever the source changed since."""
    path = os.path.abspath(sf_or_path)
    name = f"{build.__module__}.{build.__qualname__}"
    key = (spark.sparkContext.applicationId, name, params, path)
    stamp = _stamp(path)
    entry = _ENTRIES.get(key)
    if entry is not None:
        if entry[0] == stamp:
            return entry[1]
        _release(entry[1])
    result = build()
    _ENTRIES[key] = (stamp, result)
    return result


def clear(under: str | None = None) -> None:
    """Drop every entry, or only those whose source lies at or under
    `under`, unpersisting the DataFrames they hold."""
    root = None if under is None else os.path.abspath(under)
    for key in list(_ENTRIES):
        if root is None or os.path.commonpath([root, key[3]]) == root:
            _release(_ENTRIES.pop(key)[1])
