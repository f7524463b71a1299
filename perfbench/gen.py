"""Seeded input generator for the benchmark.

Everything the program sees is made here from one integer seed: the stored
subscriptions, NEF notification payloads (TS 29.591 shape), the open-loop
push schedule and the fixture tables of the query workload.  The same seed
gives byte-identical inputs.  Composition is fixed per workload and only the
order, keys and values vary with the seed, so the amount of work per run does
not depend on the seed.

Alongside the inputs the generator emits the expectations the benchmark
checks the outputs against: normalized record counts per event type, the
golden records of FIXTURES.md A.2-A.4, and the HTTP status of every POST.
The expectations are derived here from the reference's rules (record dropped
when it carries no identity tag, unknown or missing notifId rejected,
unsupported event skipped), independently of the program's code.
"""

from __future__ import annotations

import json
import os
import random

TYPES = ("PERF_DATA", "UE_MOBILITY", "UE_COMM")
UNITS = ("bps", "Kbps", "Mbps", "Gbps", "Tbps")
N_SUBS = 64
# subscriptions without any context tag (no snssai, empty dnn): the only
# ones on which a tagless info really drops its record
N_BARE = 4

GOLDEN_SUB = {
    "notif_id": "test-notif-001",
    "snssai": {"sst": 1, "sd": "000001"},
    "dnn": "internet",
    "events": ["PERF_DATA", "UE_MOBILITY"],
    "nef_sub_id": "nef-sub-abc",
    "nef_url": "http://nef:8090/nnef-event-exposure/v1/subscriptions",
    "created_at": 1000000,
}


def _loc(tac: str, cell: str) -> dict:
    return {"nrLocation": {"tai": {"tac": tac}, "ncgi": {"nrCellId": cell}}}


# FIXTURES.md A.2-A.4 inputs and the records the reference produces for them
# (to_json omits null fields, so absent keys are the expected nulls).
GOLDEN = [
    (
        {"notifId": "test-notif-001", "eventNotifs": [{
            "event": "PERF_DATA", "timeStamp": "2026-04-20T10:15:00Z",
            "perfDataInfos": [{
                "ueIpAddr": {"ipv4Addr": "10.0.1.10"}, "appId": "app-test",
                "timeStamp": "2026-04-20T10:15:00Z",
                "perfData": {"thrputUl": "11.74 Mbps", "thrputDl": "87.57 Mbps",
                             "pdb": 18, "plr": 17}}]}]},
        {"ts_unix": 1776680100, "event": "PERF_DATA", "snssai_sst": 1,
         "snssai_sd": "000001", "dnn": "internet", "ueIpv4Addr": "10.0.1.10",
         "appId": "app-test", "thrputUl_mbps": 11.74, "thrputDl_mbps": 87.57,
         "pdb_ms": 18, "plr_per_thousand": 17},
    ),
    (
        {"notifId": "test-notif-001", "eventNotifs": [{
            "event": "UE_MOBILITY",
            "ueMobilityInfos": [{
                "supi": "imsi-001011234567890",
                "ueTrajs": [
                    {"ts": "2026-04-20T10:14:50Z", "location": _loc("000001", "000000001")},
                    {"ts": "2026-04-20T10:15:00Z", "location": _loc("000002", "000000002")},
                ]}]}]},
        {"ts_unix": 1776680090, "event": "UE_MOBILITY", "snssai_sst": 1,
         "snssai_sd": "000001", "dnn": "internet", "supi": "imsi-001011234567890",
         "trajectory": [
             {"ts": 1776680090, "tac": "000001", "nrCellId": "000000001"},
             {"ts": 1776680100, "tac": "000002", "nrCellId": "000000002"}]},
    ),
    (
        {"notifId": "test-notif-001", "eventNotifs": [{
            "event": "UE_COMM",
            "ueCommInfos": [{
                "supi": "imsi-001011234567890",
                "comms": [{"startTime": "2026-04-20T10:00:00Z",
                           "endTime": "2026-04-20T10:15:00Z",
                           "ulVol": 1048576, "dlVol": 52428800}]}]}]},
        {"ts_unix": 1776680100, "event": "UE_COMM", "snssai_sst": 1,
         "snssai_sd": "000001", "dnn": "internet", "supi": "imsi-001011234567890",
         "comms": [{"startTime": 1776679200, "endTime": 1776680100,
                    "ulVol": 1048576, "dlVol": 52428800}]},
    ),
]


def subscriptions(seed: int) -> list[dict]:
    """The 64 stored subscriptions: the golden A.1 row, N_BARE context-free
    rows, the rest with a random slice and DNN."""
    rng = random.Random(f"subs-{seed}")
    subs = [dict(GOLDEN_SUB)]
    for i in range(1, N_SUBS):
        bare = i > N_SUBS - 1 - N_BARE
        subs.append({
            "notif_id": f"sub-{seed % 1000:03d}-{i:02d}",
            "snssai": None if bare else {"sst": rng.choice([1, 2, 3]),
                                         "sd": f"{rng.randrange(1 << 24):06x}"},
            "dnn": "" if bare else rng.choice(["internet", "ims", "iot", "v2x"]),
            "events": list(TYPES),
            "nef_sub_id": f"nef-{rng.randrange(1 << 32):08x}",
            "nef_url": "http://nef:8090/nnef-event-exposure/v1/subscriptions",
            "created_at": 1_700_000_000 + i,
        })
    return subs


def zipf_weights(n: int, s: float = 1.1) -> list[float]:
    return [1.0 / (k + 1) ** s for k in range(n)]


def _iso(rng: random.Random) -> str:
    sec = rng.randrange(86400 * 30)
    d, rem = divmod(sec, 86400)
    h, rem = divmod(rem, 3600)
    m, s = divmod(rem, 60)
    return f"2026-04-{d + 1:02d}T{h:02d}:{m:02d}:{s:02d}Z"


def _bitrate(rng: random.Random) -> str:
    return f"{rng.randrange(1, 100000) / 100:.2f} {rng.choice(UNITS)}"


def _perf_info(rng: random.Random, tagless: bool) -> dict:
    info = {"timeStamp": _iso(rng),
            "perfData": {"thrputUl": _bitrate(rng), "thrputDl": _bitrate(rng),
                         "maxThrputUl": _bitrate(rng), "minThrputDl": _bitrate(rng),
                         "pdb": rng.randrange(1, 300), "plr": rng.randrange(0, 1000)}}
    if not tagless:
        if rng.random() < 0.8:
            info["ueIpAddr"] = {"ipv4Addr": f"10.{rng.randrange(256)}.{rng.randrange(256)}.{rng.randrange(1, 255)}"}
        else:
            info["ueIpAddr"] = {"ipv4Addr": "", "ipv6Addr": f"2001:db8::{rng.randrange(1 << 16):x}"}
        info["appId"] = f"app-{rng.randrange(32)}"
    return info


def _mob_info(rng: random.Random, tagless: bool, empty: bool) -> dict:
    trajs = [] if empty else [
        {"ts": _iso(rng), "location": _loc(f"{rng.randrange(1 << 24):06x}", f"{rng.randrange(1 << 36):09x}")}
        for _ in range(rng.randrange(1, 5))
    ]
    info = {"ueTrajs": trajs}
    if not tagless:
        info["supi"] = f"imsi-00101{rng.randrange(10**10):010d}"
    return info


def _comm_info(rng: random.Random, tagless: bool, empty: bool) -> dict:
    comms = [] if empty else [
        {"startTime": _iso(rng), "endTime": _iso(rng),
         "ulVol": rng.randrange(1 << 30), "dlVol": rng.randrange(1 << 32)}
        for _ in range(rng.randrange(1, 4))
    ]
    info = {"comms": comms}
    if not tagless:
        info["supi"] = f"imsi-00101{rng.randrange(10**10):010d}"
        info["interGroupId"] = f"group-{rng.randrange(16)}"
    return info


def notification(rng: random.Random, notif_id: str | None, event: str,
                 n_infos: int, bare: bool) -> tuple[dict, int]:
    """One valid-shaped notification and the records it must yield.  On a
    bare subscription every fourth info is tagless and yields nothing; on a
    tagged one context tags keep it (FIXTURES.md A.5)."""
    infos, kept = [], 0
    for j in range(n_infos):
        tagless = j % 4 == 3
        empty = j % 5 == 4
        if event == "PERF_DATA":
            infos.append(_perf_info(rng, tagless))
        elif event == "UE_MOBILITY":
            infos.append(_mob_info(rng, tagless, empty))
        else:
            infos.append(_comm_info(rng, tagless, empty))
        kept += 0 if (tagless and bare) else 1
    field = {"PERF_DATA": "perfDataInfos", "UE_MOBILITY": "ueMobilityInfos",
             "UE_COMM": "ueCommInfos"}[event]
    en = {"event": event, "timeStamp": _iso(rng), field: infos}
    body = {"eventNotifs": [en]}
    if notif_id is not None:
        body = {"notifId": notif_id, **body}
    return body, kept


def _unsupported(rng: random.Random, notif_id: str) -> dict:
    return {"notifId": notif_id, "eventNotifs": [
        {"event": "DISPERSION", "timeStamp": _iso(rng),
         "perfDataInfos": [_perf_info(rng, False)]}]}


# per 64 notifications of a backlog file: fixed type mix, fixed infos-count
# multiset (1-8 infos), and 4 invalid bodies; the seed picks order and keys
_MIX = ["PERF_DATA"] * 30 + ["UE_MOBILITY"] * 15 + ["UE_COMM"] * 15
_INFOS = [1, 2, 3, 4, 5, 6, 7, 8] * 8


POOL_BLOCKS = 64


def block_pool(seed: int, subs: list[dict]) -> list[tuple[str, dict, int]]:
    """POOL_BLOCKS blocks of 64 notifications each: (JSON lines, {type:
    records}, infos in).  Every block has the same type mix, infos-count
    multiset and four invalid bodies (missing notifId, unknown notifId,
    unsupported event); the seed picks order, keys and values.  Keys are
    Zipf-skewed over the stored subscriptions except the golden one, which
    receives only the golden payloads."""
    rng = random.Random(f"backlog-{seed}")
    keys = [s["notif_id"] for s in subs[1:]]
    weights = zipf_weights(len(keys))
    bare = {s["notif_id"] for s in subs if s["snssai"] is None}
    pool = []
    for _ in range(POOL_BLOCKS):
        kinds = list(_MIX) + ["missing", "unknown", "unsupported", "PERF_DATA"]
        infos = list(_INFOS)
        rng.shuffle(kinds)
        rng.shuffle(infos)
        expect = {t: 0 for t in TYPES}
        infos_in = 0
        lines = []
        for kind, n in zip(kinds, infos):
            key = rng.choices(keys, weights)[0]
            if kind == "missing":
                body, _ = notification(rng, None, "UE_COMM", n, False)
            elif kind == "unknown":
                body, _ = notification(rng, f"nope-{rng.randrange(1 << 20)}", "PERF_DATA", n, False)
            elif kind == "unsupported":
                body = _unsupported(rng, key)
            else:
                body, kept = notification(rng, key, kind, n, key in bare)
                expect[kind] += kept
                infos_in += n
            lines.append(json.dumps(body, separators=(",", ":")))
        pool.append(("\n".join(lines), expect, infos_in))
    return pool


def backlog_file(seed: int, index: int, n_blocks: int, pool) -> tuple[str, dict, int]:
    """Text of one spooled JSON-lines file, its expected records per type
    and its infos count: the three golden payloads, then n_blocks blocks
    drawn from the pool in a seeded order."""
    rng = random.Random(f"backlog-file-{seed}-{index}")
    expect = {rec["event"]: 1 for _, rec in GOLDEN}
    infos_in = len(GOLDEN)
    parts = [json.dumps(body) for body, _ in GOLDEN]
    for _ in range(n_blocks):
        text, exp, n = pool[rng.randrange(len(pool))]
        parts.append(text)
        for t, k in exp.items():
            expect[t] += k
        infos_in += n
    return "\n".join(parts) + "\n", expect, infos_in


PUSH_BASE_TS = 1_800_000_000  # record ts_unix = PUSH_BASE_TS + op index
# roles of the first 16 operations of a push schedule; the others are
# ordinary notifications.  Create and delete are each followed >= 4 s later
# by a notification to that id.
PUSH_ROLES = {0: "golden", 1: "golden", 2: "create", 3: "golden", 4: "missing",
              6: "delete", 7: "unknown", 9: "unsupported", 12: "to_created",
              14: "to_deleted"}


def _iso_epoch(t: int) -> str:
    import datetime

    return datetime.datetime.fromtimestamp(t, datetime.timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")


def _stamp(body: dict, event: str, ts: int) -> None:
    """Give every info of a notification the event time `ts`, so each
    record it yields names its operation."""
    iso = _iso_epoch(ts)
    en = body["eventNotifs"][0]
    if event == "PERF_DATA":
        for info in en["perfDataInfos"]:
            info["timeStamp"] = iso
    elif event == "UE_MOBILITY":
        for info in en["ueMobilityInfos"]:
            info["ueTrajs"][0]["ts"] = iso
    else:
        for info in en["ueCommInfos"]:
            info["comms"][0]["endTime"] = iso


def push_schedule(seed: int, n: int, rate: float, subs: list[dict],
                  ws_keys: list[str]) -> list[dict]:
    """n >= 16 open-loop operations, one every 1/rate s: {due, kind:
    notify|create|delete, notif_id, status, records: {type: n}, ...}.
    The golden payloads, invalid bodies (missing notifId -> 400, unknown
    notifId -> 403, unsupported event -> 204 and no record), one
    subscription created and one deleted through the control plane, then
    notifications to both ids.  Ordinary notifications carry 1-4 infos and
    go to a WS-subscribed key three times in four."""
    rng = random.Random(f"push-{seed}")
    tagged = [s["notif_id"] for s in subs if s["snssai"] is not None]
    deleted = next(k for k in reversed(tagged) if k not in ws_keys)
    others = [k for k in tagged if k != deleted]
    created = f"late-{seed % 1000:03d}"
    golden = iter(GOLDEN)
    ops = []
    for i in range(n):
        role = PUSH_ROLES.get(i, "notify")
        op = {"due": i / rate, "kind": "notify", "status": 204, "records": {}}
        if role == "golden":
            body, rec = next(golden)
            op.update(body=body, notif_id=body["notifId"], records={rec["event"]: 1}, golden=rec)
        elif role == "create":
            op.update(kind="create", notif_id=created, status=201,
                      body={"notifId": created, "nefUrl": "http://nef:8090/sub",
                            "events": list(TYPES), "dnn": "internet",
                            "snssai": {"sst": 1, "sd": "0000aa"}})
        elif role == "delete":
            op.update(kind="delete", notif_id=deleted, status=204)
        elif role == "missing":
            body, _ = notification(rng, None, "PERF_DATA", 2, False)
            op.update(body=body, notif_id=None, status=400)
        elif role == "unknown":
            body, _ = notification(rng, "nope-push", "PERF_DATA", 2, False)
            op.update(body=body, notif_id="nope-push", status=403)
        elif role == "unsupported":
            key = rng.choice(ws_keys)
            op.update(body=_unsupported(rng, key), notif_id=key)
        else:
            key = {"to_created": created, "to_deleted": deleted}.get(role) or (
                rng.choice(ws_keys) if rng.random() < 0.75 else rng.choice(others))
            event = TYPES[i % 3]
            body, kept = notification(rng, key, event, 1 + i % 4, False)
            _stamp(body, event, PUSH_BASE_TS + i)
            op.update(body=body, notif_id=key, late=key == created)
            if key == deleted:
                op["status"] = 403
            else:
                op["records"] = {event: kept}
        ops.append(op)
    return ops


# --- fixture tables for the query workload (TESTDATA.md schemas) -------------

_WORDS = ("spark window merge table column vector stream value data small join "
          "filter big group hash customer sort order slow line part fast row the "
          "agg key query a scan batch").split()


def write_tables(seed: int, out_dir: str, scale: float = 0.01) -> None:
    """The ten fixture tables at `scale` (TESTDATA.md row counts: lineitem
    6e6 x scale), one parquet file each, distributions as in FIXTURES.md B."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_li, n_ord, n_cust = int(6e6 * scale), int(1.5e6 * scale), int(1.5e5 * scale)
    n_supp, n_part, n_ev = int(1e4 * scale), int(2e5 * scale), int(1e6 * scale)
    n_doc = max(500, int(5e4 * scale))
    n_emb = max(500, int(2e4 * scale))

    def ts(start: str, days: int, n: int):
        base = np.datetime64(start, "us")
        return base + rng.integers(0, days * 86400 * 10**6, n).astype("timedelta64[us]")

    def day(start: str, days: int, n: int):
        return np.datetime64(start, "us") + (rng.integers(0, days, n) * 86400 * 10**6).astype("timedelta64[us]")

    def money(lo: float, hi: float, n: int):
        return np.round(rng.uniform(lo, hi, n), 2)

    tables = {
        "region": {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
        "nation": {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())},
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"], n_cust)},
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": money(-999.99, 9999.99, n_supp)},
        "part": {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(
                rng.choice("blue cold hot large new old red small".split(), n_part),
                rng.choice("anvil bolt gear gizmo plate ring rod widget".split(), n_part))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY"], n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)},
        "orders": {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["P", "O", "F"], n_ord),
            "o_totalprice": money(1000, 500000, n_ord),
            "o_orderdate": day("1995-01-01", 2404, n_ord),
            "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)},
        "lineitem": {
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": money(900, 105000, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["O", "F"], n_li),
            "l_shipdate": day("1995-01-02", 2498, n_li)},
        "events": {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": np.sort(ts("2024-01-01", 30, n_ev)),
            "user_id": rng.integers(0, max(150, n_ev // 67), n_ev),
            "event_type": rng.choice(["signup", "error", "click", "view", "purchase"], n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]},
    }
    docs = []
    for _ in range(n_doc):
        if docs and rng.random() < 0.002:
            docs.append(docs[int(rng.integers(len(docs)))])
        else:
            docs.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 101)))))
    tables["documents"] = {
        "doc_id": np.arange(n_doc, dtype=np.int64), "text": docs,
        "lang": rng.choice(["en", "en", "en", "zh", "es", "de", "fr"], n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in docs], dtype=np.int64)}
    vec = rng.normal(size=(n_emb, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    tables["embeddings"] = {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)}
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))
