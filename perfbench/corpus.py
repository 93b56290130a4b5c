"""Deterministic query corpus for the `query_mix` workload.

Writes the ten tables the query registry reads (`region` ... `embeddings`,
one Parquet file each) with the column names, Arrow types and value
domains of the TPC-H-ish test corpus described in FIXTURES.md §5. The
corpus is a fixed function of its scale and `CORPUS_SEED`, not of the
benchmark's `--seed`: the workload seed only reorders queries, so every
run of every seed reads the same bytes and the oracle answers stay fixed.

`write_corpus(out_dir, scale)` writes the tables into `out_dir`; at scale
1.0 that takes well under a second, so each run writes its own copy into
its temp directory and no state is shared between runs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 20240101

# Row counts at scale 1.0 ("sf0.01" in the test corpus's naming).
ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400_000_000
_EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00Z
_EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(CORPUS_SEED)
    n = {k: max(10, int(v * scale)) for k, v in ROWS.items()}
    n["documents"] = ROWS["documents"]  # text tier is not scaled
    n["embeddings"] = ROWS["embeddings"]
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": rng.choice(SEGMENTS, nc),
        }
    )
    ns = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    np_ = n["part"]
    pk = np.arange(np_)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(pk, pa.int64()),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
            "p_type": rng.choice(PART_TYPES, np_),
            "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
            "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
        }
    )
    no = n["orders"]
    odate = _EPOCH_1995_US + rng.integers(0, 2404, no) * _DAY_US
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], no),
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": pa.array(odate, pa.timestamp("us")),
            "o_orderpriority": rng.choice(PRIORITIES, no),
        }
    )
    nl = n["lineitem"]
    lorder = rng.integers(0, no, nl)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(lorder, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], nl),
            "l_linestatus": rng.choice(["F", "O"], nl),
            "l_shipdate": pa.array(
                _EPOCH_1995_US + rng.integers(1, 2500, nl) * _DAY_US,
                pa.timestamp("us"),
            ),
        }
    )
    ne = n["events"]
    ts = _EPOCH_2024_US + np.sort(rng.integers(0, 30 * _DAY_US, ne))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 150, ne), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, ne),
            "value": np.maximum(0.01, np.round(rng.exponential(50.0, ne), 2)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    nd = n["documents"]
    texts = [
        " ".join(rng.choice(WORDS, int(rng.integers(10, 100))))
        for _ in range(nd)
    ]
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(nd), pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS, nd),
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    nv = n["embeddings"]
    vec = rng.normal(size=(nv, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(nv), pa.int64()),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
        }
    )
    return out


def write_corpus(out_dir: str, scale: float) -> str:
    """Write every corpus table as `<out_dir>/<name>.parquet`."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in _tables(scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
