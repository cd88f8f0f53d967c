"""Seeded input tables for the benchmark.

The corpus itself is fixed: every table is drawn from one pinned
generator with the shapes and value distributions of the engine's
TPC-H-style fixtures (star schema, an ``events`` stream, ``documents``
with ~5% planted near-duplicates, unit-norm 64-d ``embeddings``), so
every workload answers the same questions at every seed.  The run's
``--seed`` then permutes the row order of every table file: the file
layout changes, the answers do not.

``write_inputs(out_dir, seed, scale)`` writes one parquet file per
table and returns ``{table: sha256 of the file}``.
"""

from __future__ import annotations

import hashlib
import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Corpus seed: fixed, so the seed argument only moves the layout.
CORPUS_SEED = 20240101

#: Row counts at scale 1.0 (the fixtures' sf0.01 shape).
BASE_ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EMB_DIM = 64
N_CLUSTERS = 10


def _rows(scale: float | dict[str, float]) -> dict[str, int]:
    """Row counts; ``scale`` is one factor or a per-table map (missing
    tables at 1.0)."""
    factor = scale if isinstance(scale, dict) else dict.fromkeys(BASE_ROWS, scale)
    return {
        t: max(int(round(n * factor.get(t, 1.0))), 50) for t, n in BASE_ROWS.items()
    }


def _days(rng, n: int, start: datetime, span_days: int) -> list[datetime]:
    return [start + timedelta(days=int(d)) for d in rng.integers(0, span_days, n)]


def corpus(scale: float | dict[str, float]) -> dict[str, pa.Table]:
    """The fixed tables at ``scale``, in generation order."""
    rng = np.random.default_rng(CORPUS_SEED)
    n = _rows(scale)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)],
    })
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
    })
    npart = n["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(range(npart), pa.int64()),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2),
    })
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
        "o_orderdate": pa.array(
            _days(rng, no, datetime(1995, 1, 1), 2404), pa.timestamp("us")
        ),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)],
    })
    lines = rng.integers(1, 8, no)
    nl = int(lines.sum())
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(np.repeat(np.arange(no), lines), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(
            np.concatenate([np.arange(1, k + 1) for k in lines]), pa.int32()
        ),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": pa.array(
            _days(rng, nl, datetime(1995, 1, 2), 2497), pa.timestamp("us")
        ),
    })
    ne = n["events"]
    t0 = datetime(2024, 1, 1)
    offs = np.sort(rng.integers(0, 30 * 86_400_000_000, ne))
    t["events"] = pa.table({
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": pa.array(
            [t0 + timedelta(microseconds=int(o)) for o in offs],
            pa.timestamp("us"),
        ),
        "user_id": pa.array(rng.integers(0, max(nc // 10, 1), ne), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
        "value": np.maximum(np.round(rng.exponential(50.0, ne), 2), 0.01),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if texts and rng.random() < 0.05:
            # planted near-duplicate: an earlier document plus one word
            texts.append(texts[int(rng.integers(0, len(texts)))] + " dup")
        else:
            texts.append(
                " ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(10, 101))))
            )
    t["documents"] = pa.table({
        "doc_id": pa.array(range(nd), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, nd, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })
    nv = n["embeddings"]
    centers = rng.normal(0.0, 1.0, (N_CLUSTERS, EMB_DIM))
    labels = rng.integers(0, N_CLUSTERS, nv)
    vecs = rng.normal(0.0, 1.0, (nv, EMB_DIM)) + 0.3 * centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(nv), pa.int64()),
        "embedding": pa.array([v.tolist() for v in vecs], pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def write_inputs(out_dir: str, seed: int, scale: float | dict[str, float]) -> dict[str, str]:
    """Write every table, rows permuted by ``seed``; return file digests."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    digests = {}
    for name, table in corpus(scale).items():
        shuffled = table.take(pa.array(rng.permutation(table.num_rows)))
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(shuffled, path)
        with open(path, "rb") as f:
            digests[name] = hashlib.sha256(f.read()).hexdigest()
    return digests
