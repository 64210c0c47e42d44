"""Deterministic synthetic inputs for the benchmark.

``write_tables`` writes the ten star-schema tables the registry queries read
(``region nation customer supplier part orders lineitem events documents
embeddings``, one parquet file each) with the same schemas and value
distributions as the engine's reference test data. ``sf=0.01`` gives
60k lineitems. The data seed is fixed, so every run of a workload reads
identical tables and the workload seed only varies what the benchmark
drives through them.

``ensure`` caches the tables under the run directory, keyed by a digest of
the generator source, so only the first run in a checkout pays for them.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["small", "red", "blue", "hot", "cold", "new", "old", "large"]
NOUN = ["ring", "widget", "bolt", "gear", "anvil", "gizmo", "plate", "rod"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DAY_US = 86_400_000_000


def _epoch_us(day: str) -> int:
    return int(datetime.fromisoformat(day).replace(tzinfo=timezone.utc).timestamp()) * 1_000_000


def _days(rng, start: str, n_days: int, size: int) -> pa.Array:
    base = _epoch_us(start)
    us = base + rng.integers(0, n_days, size) * DAY_US
    return pa.array(us, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, size: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def _keys(n: int) -> np.ndarray:
    return np.arange(n, dtype=np.int64)


def _tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_users, n_ev = max(n_cust // 10, 15), int(1_000_000 * sf)
    n_docs = max(int(50_000 * sf), 500)
    n_vec = max(int(20_000 * sf), 500)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": _keys(n_cust),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": _keys(n_supp),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    adj, noun = rng.choice(ADJ, n_part), rng.choice(NOUN, n_part)
    out["part"] = pa.table(
        {
            "p_partkey": _keys(n_part),
            "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PTYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": _keys(n_ord),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", 2400, n_ord),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _days(rng, "1995-01-02", 2500, n_li),
        }
    )
    ts = np.sort(rng.integers(0, 30 * DAY_US, n_ev)) + _epoch_us("2024-01-01")
    out["events"] = pa.table(
        {
            "event_id": _keys(n_ev),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts = [
        " ".join(rng.choice(WORDS, int(k))) for k in rng.integers(10, 101, n_docs)
    ]
    # 5% near-duplicates (another document plus one token) and a few exact
    # copies, so dedup and near-dup operators have work to find
    for i in rng.choice(n_docs, n_docs // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    for i in rng.choice(n_docs, max(n_docs // 500, 1), replace=False):
        texts[i] = texts[int(rng.integers(0, n_docs))]
    out["documents"] = pa.table(
        {
            "doc_id": _keys(n_docs),
            "text": texts,
            "lang": rng.choice(LANGS, n_docs, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], np.int64),
        }
    )
    vecs = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": _keys(n_vec),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
        }
    )
    return out


def write_tables(out_dir: str, sf: float) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in _tables(sf).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


def ensure(cache: str, sf: float) -> str:
    """Return a directory holding the tables at ``sf``, generating it on
    first use. A directory is reused only while the digest of this file and
    the size it was built for still match."""
    h = hashlib.sha256(str(sf).encode())
    with open(__file__, "rb") as f:
        h.update(f.read())
    key = h.hexdigest()[:16]
    out = os.path.join(cache, f"sf{sf:g}-{key}")
    if os.path.exists(os.path.join(out, "DONE")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    write_tables(out, sf)
    with open(os.path.join(out, "DONE"), "w") as f:
        f.write(key)
    return out
