"""Seeded input generators for the lake benchmark.

Every generator is a pure function of its seed (numpy ``default_rng``), so
the same seed writes byte-identical files and different seeds differ.
Nothing here imports pyspark: inputs are made before the engine starts.

- ``write_fixtures``: the TPC-H-style star schema plus the events,
  documents and embeddings tables, with the column names, types and value
  domains the query registry expects (nation names ``NATION_0..24``, real
  region names, five event types, a 31-word document vocabulary, 64-d unit
  embeddings). Sizes scale linearly with ``sf`` like the reference
  fixtures (lineitem = 6M x sf rows).
- ``ingest_batch``: one batch of raw JSON event lines for the ingest
  workload (three streams, one routed by alt id, skewed message types,
  schema drift, malformed lines, PII strings).
- ``dml_writes`` / ``delta_reads``: one cycle of the seeded Delta
  maintenance ops and of the reads run beside them.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
P_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
P_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
P_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("de", "en", "es", "fr", "zh")
LANG_P = (0.14, 0.42, 0.15, 0.15, 0.14)
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMB_DIM = 64

_EPOCH = datetime(1970, 1, 1)


def _micros(dt: datetime) -> int:
    return (dt - _EPOCH) // timedelta(microseconds=1)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def fixture_sizes(sf: float) -> dict[str, int]:
    return {
        "customer": max(150, int(150_000 * sf)),
        "supplier": max(10, int(1_000 * sf)),
        "part": max(200, int(200_000 * sf)),
        "orders": max(1_500, int(1_500_000 * sf)),
        "lineitem": max(6_000, int(6_000_000 * sf)),
        "events": max(1_000, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def write_fixtures(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten fixture tables as ``<out_dir>/<name>.parquet``;
    returns {name: rows}."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n = fixture_sizes(sf)
    ts = pa.timestamp("us")

    _write(pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": list(REGIONS),
    }), f"{out_dir}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    }), f"{out_dir}/nation.parquet")

    nc = n["customer"]
    _write(pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
    }), f"{out_dir}/customer.parquet")

    ns = n["supplier"]
    _write(pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    }), f"{out_dir}/supplier.parquet")

    npart = n["part"]
    names = np.array([f"{a} {b}" for a in P_ADJ for b in P_NOUN])
    _write(pa.table({
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": names[rng.integers(0, len(names), npart)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
            rng.integers(0, 25, npart)
        ],
        "p_type": np.array(P_TYPES)[rng.integers(0, 6, npart)],
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) / 10, 1),
    }), f"{out_dir}/part.parquet")

    no = n["orders"]
    day0 = _micros(datetime(1995, 1, 1))
    day_us = 86_400_000_000
    odays = rng.integers(0, 2400, no)
    _write(pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": np.array(("F", "O", "P"))[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000, 500_000, no),
        "o_orderdate": pa.array(day0 + odays * day_us, ts),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
    }), f"{out_dir}/orders.parquet")

    nl = n["lineitem"]
    lok = rng.integers(0, no, nl)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    _write(pa.table({
        "l_orderkey": lok.astype(np.int64),
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(18, 2100, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(("A", "N", "R"))[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(("F", "O"))[rng.integers(0, 2, nl)],
        "l_shipdate": pa.array(
            day0 + np.clip(odays[lok] + rng.integers(1, 122, nl), 0, 2500)
            * day_us,
            ts,
        ),
    }), f"{out_dir}/lineitem.parquet")

    ne = n["events"]
    ev0 = _micros(datetime(2024, 1, 1))
    ev_ts = np.sort(rng.integers(0, 30 * day_us, ne)) + ev0
    _write(pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(ev_ts, ts),
        "user_id": rng.integers(0, max(150, nc // 10), ne).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    }), f"{out_dir}/events.parquet")

    nd = n["documents"]
    texts = []
    for _ in range(nd):
        w = rng.integers(0, len(WORDS), int(rng.integers(8, 90)))
        texts.append(" ".join(WORDS[i] for i in w))
    # ~5% near-duplicates (a copy plus one token) and a few exact copies,
    # so the dedup entries find real work
    for i in rng.choice(nd, nd // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, nd))] + " dup"
    for i in rng.choice(nd, max(2, nd // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, nd))]
    _write(pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, nd, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), f"{out_dir}/documents.parquet")

    nv = n["embeddings"]
    _write(pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(
            list(embeddings(rng, nv)), pa.list_(pa.float32())
        ),
        "label": rng.integers(0, 10, nv).astype(np.int32),
    }), f"{out_dir}/embeddings.parquet")
    return {"region": 5, "nation": 25, **n}


def embeddings(rng, n: int) -> np.ndarray:
    """Unit vectors around ~sqrt(n)/2 cluster centres: real cluster
    structure, so the approximate lanes have something to find."""
    k = max(4, int(np.sqrt(n) / 2))
    centres = rng.normal(size=(k, EMB_DIM))
    v = centres[rng.integers(0, k, n)] + 0.6 * rng.normal(size=(n, EMB_DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32)


# -- ingest ------------------------------------------------------------------

# (stream_id, alt_id, functions): stream "c" is routed by projectId only
INGEST_STREAMS = (
    ("8d4c5a1e-0000-4000-8000-00000000000a", "", "ingester"),
    ("8d4c5a1e-0000-4000-8000-00000000000b", "",
     "ingester,pii-detection"),
    ("8d4c5a1e-0000-4000-8000-00000000000c", "proj-delta-01",
     "ingester,deltawriter"),
)
STREAM_SHARE = (0.5, 0.3, 0.2)
MSG_TYPES = ("page_view", "click", "purchase", "signup", "error")
MSG_SHARE = (0.55, 0.25, 0.1, 0.07, 0.03)
DRIFT_EVERY = 1
MALFORMED_SHARE = 0.005


def ingest_batch(seed: int, batch: int, n_events: int) -> tuple[dict, dict]:
    """Raw JSON lines of one ingest batch, split into the file read by the
    ingest job of the parquet streams ("main") and the file read by the
    job of the Delta stream ("delta"), and the batch's expected counts.

    Returns ({"main": lines, "delta": lines}, expect) where expect maps
    each stream id to {message_type: rows}, plus "malformed" (lines that
    are not JSON), "drift_fields" (optional fields that appear from this
    batch on: one more every DRIFT_EVERY batches, on the parquet streams
    only; the Delta stream's table keeps one schema) and "opt_counts"
    ({stream id: {field: events carrying it}})."""
    rng = np.random.default_rng([seed, 2, batch])
    n_drift = batch // DRIFT_EVERY
    stream = rng.choice(3, n_events, p=STREAM_SHARE)
    mtype = rng.choice(len(MSG_TYPES), n_events, p=MSG_SHARE)
    # event time spread over two days, so each batch lands in several
    # daily buckets
    day0 = datetime(2024, 3, 1)
    secs = rng.integers(0, 2 * 86_400, n_events)
    n_bad = max(1, int(round(n_events * MALFORMED_SHARE)))
    bad_at = set(rng.choice(n_events, n_bad, replace=False).tolist())
    expect: dict = {sid: {} for sid, _, _ in INGEST_STREAMS}
    opt_counts: dict[str, dict[str, int]] = {}
    files: dict[str, list[str]] = {"main": [], "delta": []}
    for i in range(n_events):
        if i in bad_at:
            files["main"].append(
                '{"stream_id": "' + INGEST_STREAMS[0][0]
                + '", "type": "click", "user": '
            )
            continue
        sid, alt, _ = INGEST_STREAMS[stream[i]]
        t = MSG_TYPES[mtype[i]]
        ev = {
            "type": t,
            "batch": batch,
            "ts": (day0 + timedelta(seconds=int(secs[i]))).isoformat(),
            "user": f"u{int(rng.integers(0, 5000))}",
            "amount": int(rng.integers(1, 10_000)),
            "props": {"k": int(rng.integers(0, 100))},
        }
        if alt:
            ev["projectId"] = alt
        else:
            ev["stream_id"] = sid
        if stream[i] == 1:
            ev["note"] = (
                f"call {int(rng.integers(200, 999))}-555-"
                f"{int(rng.integers(1000, 9999))} or ssn "
                f"{int(rng.integers(100, 999))}-45-6789"
            )
        if not alt:
            for d in range(n_drift):
                if rng.random() < 0.5:
                    ev[f"opt_{d}"] = int(rng.integers(0, 1000))
                    c = opt_counts.setdefault(sid, {})
                    c[f"opt_{d}"] = c.get(f"opt_{d}", 0) + 1
        expect[sid][t] = expect[sid].get(t, 0) + 1
        files["delta" if alt else "main"].append(
            json.dumps(ev, separators=(",", ":"))
        )
    expect["malformed"] = n_bad
    expect["drift_fields"] = [f"opt_{d}" for d in range(n_drift)]
    expect["opt_counts"] = opt_counts
    return files, expect


# -- delta_dml ---------------------------------------------------------------

# One cycle of the lake workload's Delta ops, in this order of kinds: MERGE
# upserts dominate, as on a lake fed by CDC; the cycle ends with
# maintenance (OPTIMIZE ZORDER, then VACUUM). Reads run beside them.
WRITE_CYCLE = ("merge", "update", "dv_delete", "merge", "delete", "maintain")
READ_CYCLE = ("read_latest", "read_version", "read_range")


def zipf_recent(rng, n_keys: int, size: int, a: float = 1.3) -> np.ndarray:
    """Keys skewed toward the newest (highest) key: rank 1 = newest."""
    r = rng.zipf(a, size)
    return np.clip(n_keys - r, 0, n_keys - 1)


def dml_writes(seed: int, cycle: int, n_keys: int) -> list[dict]:
    """The Delta writes of one cycle over a table of ``n_keys`` keys, with
    seeded keys and ranges."""
    rng = np.random.default_rng([seed, 3, cycle])
    ops = []
    for kind in WRITE_CYCLE:
        op: dict = {"kind": kind}
        if kind == "merge":
            keys = np.unique(zipf_recent(rng, n_keys, 40))
            op["keys"] = [int(k) for k in keys]
            op["new_keys"] = [
                int(k) for k in n_keys + rng.integers(0, n_keys // 4, 5)
            ]
            op["bump"] = int(rng.integers(1, 100))
        elif kind in ("delete", "dv_delete"):
            lo = int(rng.integers(0, n_keys - 8))
            op["lo"], op["hi"] = lo, lo + int(rng.integers(1, 8))
        elif kind == "update":
            lo = int(zipf_recent(rng, n_keys, 1)[0])
            op["lo"], op["hi"] = max(0, lo - 20), lo
            op["bump"] = int(rng.integers(1, 100))
        ops.append(op)
    return ops


def delta_reads(seed: int, cycle: int, n_keys: int) -> list[dict]:
    """The reads of one cycle: latest-snapshot aggregate, time travel a few
    versions back, key-range lookup."""
    rng = np.random.default_rng([seed, 7, cycle])
    ops = []
    for kind in READ_CYCLE:
        op: dict = {"kind": kind}
        if kind == "read_range":
            lo = int(rng.integers(0, n_keys - 200))
            op["lo"], op["hi"] = lo, lo + 200
        elif kind == "read_version":
            op["back"] = int(rng.integers(1, 4))
        ops.append(op)
    return ops
