"""Seeded star-schema tables for the ``query_inventory`` workload.

Same table names, column names, types and value domains as the
engine's fixture tables (``FIXTURES.md`` §B) at about sf0.01: TPC-H
style ``region nation customer supplier part orders lineitem``, an
``events`` hit table, ``documents`` with planted near-duplicates and
unit-norm ``embeddings``. One parquet file per table.
"""

from __future__ import annotations

import datetime
import os

N_CUSTOMER = 1500
N_SUPPLIER = 100
N_PART = 2000
N_ORDERS = 15000
N_LINEITEM = 60000
N_EVENTS = 10000
N_EVENT_USERS = 150
N_DOCS = 500
N_VECS = 500
DIM = 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_WORDS = ["small", "red", "blue", "hot", "green", "large", "cold", "steel"]
PART_NOUNS = ["ring", "widget", "bolt", "gear", "nut", "valve", "pipe", "spring"]
PART_TYPES = ["ECONOMY", "SMALL", "STANDARD", "LARGE", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.15, 0.145, 0.14, 0.125]
VOCAB = (
    "join hash row batch scan column customer filter small slow merge order vector "
    "line table data agg value key stream window a spark part group big sort query "
    "fast the"
).split()


def _write(pa_table, path: str) -> None:
    import pyarrow.parquet as pq

    pq.write_table(pa_table, path)


def generate(seed: int, out_dir: str) -> dict[str, int]:
    """Write every table under ``out_dir``; returns row counts."""
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    counts: dict[str, int] = {}

    def put(name: str, cols: dict) -> None:
        t = pa.table(cols)
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = t.num_rows

    def money(lo: float, hi: float, n: int):
        return np.round(rng.uniform(lo, hi, n), 2)

    def day_stamps(start: datetime.date, n_days: int, n: int):
        base = np.datetime64(start.isoformat(), "us")
        return pa.array(base + rng.integers(0, n_days, n) * np.timedelta64(86_400_000_000, "us"))

    put(
        "region",
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS},
    )
    put(
        "nation",
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        },
    )
    put(
        "customer",
        {
            "c_custkey": pa.array(range(N_CUSTOMER), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
            "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
            "c_acctbal": money(-999.99, 9999.99, N_CUSTOMER),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, N_CUSTOMER)],
        },
    )
    put(
        "supplier",
        {
            "s_suppkey": pa.array(range(N_SUPPLIER), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
            "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
            "s_acctbal": money(-999.99, 9999.99, N_SUPPLIER),
        },
    )
    put(
        "part",
        {
            "p_partkey": pa.array(range(N_PART), pa.int64()),
            "p_name": [
                f"{PART_WORDS[a]} {PART_NOUNS[b]}"
                for a, b in zip(rng.integers(0, 8, N_PART), rng.integers(0, 8, N_PART))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, N_PART)],
            "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, N_PART)],
            "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
            "p_retailprice": np.round(900 + rng.integers(0, 1000, N_PART) * 0.1, 2),
        },
    )
    put(
        "orders",
        {
            "o_orderkey": pa.array(range(N_ORDERS), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
            "o_orderstatus": [["F", "O", "P"][i] for i in rng.integers(0, 3, N_ORDERS)],
            "o_totalprice": money(1000, 500000, N_ORDERS),
            "o_orderdate": day_stamps(datetime.date(1995, 1, 1), 2400, N_ORDERS),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, N_ORDERS)],
        },
    )
    qty = rng.integers(1, 51, N_LINEITEM).astype("float64")
    put(
        "lineitem",
        {
            "l_orderkey": pa.array(rng.integers(0, N_ORDERS, N_LINEITEM), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, N_PART, N_LINEITEM), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, N_LINEITEM), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, N_LINEITEM), 2),
            "l_discount": np.round(rng.integers(0, 11, N_LINEITEM) * 0.01, 2),
            "l_tax": np.round(rng.integers(0, 9, N_LINEITEM) * 0.01, 2),
            "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, N_LINEITEM)],
            "l_linestatus": [["F", "O"][i] for i in rng.integers(0, 2, N_LINEITEM)],
            "l_shipdate": day_stamps(datetime.date(1995, 1, 2), 2500, N_LINEITEM),
        },
    )
    # events: sorted timestamps over 30 days, microsecond resolution
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 10**6, N_EVENTS))
    put(
        "events",
        {
            "event_id": pa.array(range(N_EVENTS), pa.int64()),
            "ts": pa.array(t0 + offs.astype("timedelta64[us]")),
            "user_id": pa.array(rng.integers(0, N_EVENT_USERS, N_EVENTS), pa.int64()),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, N_EVENTS)],
            "value": money(0, 50, N_EVENTS),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
        },
    )
    texts: list[str] = []
    for i in range(N_DOCS):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), n)))
    put(
        "documents",
        {
            "doc_id": pa.array(range(N_DOCS), pa.int64()),
            "text": texts,
            "lang": [LANGS[i] for i in rng.choice(5, N_DOCS, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(N_DOCS)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        },
    )
    centers = rng.normal(size=(10, DIM))
    labels = rng.integers(0, 10, N_VECS)
    vecs = centers[labels] + rng.normal(scale=0.8, size=(N_VECS, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    put(
        "embeddings",
        {
            "vec_id": pa.array(range(N_VECS), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        },
    )
    return counts
