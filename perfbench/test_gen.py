"""Determinism and expectation checks for the benchmark's input generator.

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402


def _inputs(seed: int):
    subs = gen.subscriptions(seed)
    pool = gen.block_pool(seed, subs)
    files = [gen.backlog_file(seed, i, 8, pool) for i in range(3)]
    ws_keys = [s["notif_id"] for s in subs[:3]]
    ops = gen.push_schedule(seed, 20, 2.0, subs, ws_keys)
    return subs, files, ops


def test_same_seed_same_inputs():
    assert json.dumps(_inputs(7), sort_keys=True) == json.dumps(_inputs(7), sort_keys=True)


def test_other_seed_other_inputs():
    a, b = _inputs(7), _inputs(8)
    assert a[1][0][0] != b[1][0][0]
    assert a[2] != b[2]


def test_tables_deterministic(tmp_path):
    import pyarrow.parquet as pq

    gen.write_tables(3, str(tmp_path / "a"), 0.001)
    gen.write_tables(3, str(tmp_path / "b"), 0.001)
    for name in os.listdir(tmp_path / "a"):
        assert pq.read_table(tmp_path / "a" / name).equals(pq.read_table(tmp_path / "b" / name))


def test_block_composition_is_fixed():
    """Every block has the same mix, so work per file does not depend on the
    seed: 60 valid notifications of the three types, four invalid ones."""
    for seed in (1, 2):
        subs = gen.subscriptions(seed)
        for text, expect, infos in gen.block_pool(seed, subs)[:8]:
            bodies = [json.loads(line) for line in text.split("\n")]
            assert len(bodies) == 64
            assert sum("notifId" not in b for b in bodies) == 1
            events = [b["eventNotifs"][0]["event"] for b in bodies]
            assert events.count("DISPERSION") == 1
            # kept records never exceed infos; only bare subscriptions drop
            assert 0 < sum(expect.values()) <= infos


def test_file_covers_invalid_cases_and_units():
    subs = gen.subscriptions(5)
    text, expect, _ = gen.backlog_file(5, 0, 64, gen.block_pool(5, subs))
    for unit in gen.UNITS:
        assert f' {unit}"' in text
    assert '"ueTrajs":[]' in text and '"comms":[]' in text
    assert '"notifId":"nope-' in text
    assert all(expect[t] > 0 for t in gen.TYPES)


def test_push_expected_statuses():
    subs = gen.subscriptions(9)
    ops = gen.push_schedule(9, 16, 2.0, subs, [s["notif_id"] for s in subs[:3]])
    kinds = [(o["kind"], o["status"]) for o in ops]
    assert ("create", 201) in kinds and ("delete", 204) in kinds
    statuses = [o["status"] for o in ops if o["kind"] == "notify"]
    assert statuses.count(400) == 1 and statuses.count(403) == 2
    created = next(o["notif_id"] for o in ops if o["kind"] == "create")
    late = [o for o in ops if o.get("late")]
    assert late and all(o["notif_id"] == created and o["due"] >= 5 for o in late)
    golden = [o["golden"] for o in ops if "golden" in o]
    assert golden == [rec for _, rec in gen.GOLDEN]
