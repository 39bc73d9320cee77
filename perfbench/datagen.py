"""Seeded input generation for the benchmark workloads.

Every input the engine sees is made here from the run's seed, written
with pyarrow into the run's own input directory; the same seed gives
byte-identical files. The tables follow the schemas and value domains
of the engine's fixture tables (TPC-H-like star schema, an `events`
stream, a `documents` corpus with planted near-duplicates and
label-clustered `embeddings`), so every registry entry runs unchanged
against them.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["blue", "red", "green", "small", "large", "black", "white", "shiny", "matte", "steel", "brass", "copper", "plain"]
NOUNS = ["anvil", "widget", "ring", "gear", "bolt"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_WEIGHTS = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()

# Row counts of the relational tables at scale 1.0 (the fixture sf0.01 sizes).
RELATIONAL_ROWS = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000, "lineitem": 60000, "events": 10000}


def _days(start: str, n_days: int, rng: np.random.Generator, size: int) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, n_days, size)).astype("datetime64[ms]")


def relational_tables(seed: int, scale: float = 1.0) -> dict[str, pa.Table]:
    """region, nation, customer, supplier, part, orders, lineitem, events."""
    rng = np.random.default_rng([seed, 1])
    n = {k: max(5, int(v * scale)) for k, v in RELATIONAL_ROWS.items()}
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
        }
    )
    ns = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
        }
    )
    np_ = n["part"]
    retail = np.round(900.0 + (np.arange(np_) % 1000) / 10.0, 2)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(np_), pa.int64()),
            "p_name": [f"{COLORS[a]} {NOUNS[b]}" for a, b in zip(rng.integers(0, len(COLORS), np_), rng.integers(0, len(NOUNS), np_))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
            "p_type": np.array(PART_TYPES)[rng.integers(0, len(PART_TYPES), np_)],
            "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
            "p_retailprice": retail,
        }
    )
    no = n["orders"]
    odate = _days("1995-01-01", 2404, rng, no)
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
            "o_orderdate": pa.array(odate, pa.timestamp("ms")),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
        }
    )
    t["lineitem"] = lineitem_rows(rng, n["lineitem"], no, np_, ns, odate, retail)
    ne = n["events"]
    ts = np.datetime64("2024-01-01T00:00:00", "us") + rng.integers(0, 30 * 86400 * 10**6, ne).astype("timedelta64[us]")
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 150, ne), pa.int64()),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
            "value": np.round(rng.uniform(0.01, 490.0, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    return t


def lineitem_rows(rng, count, n_orders, n_parts, n_supp, order_dates, retail) -> pa.Table:
    okey = rng.integers(0, n_orders, count)
    pkey = rng.integers(0, n_parts, count)
    qty = rng.integers(1, 51, count).astype(float)
    return pa.table(
        {
            "l_orderkey": pa.array(okey, pa.int64()),
            "l_partkey": pa.array(pkey, pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, count), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, count), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * retail[pkey] * rng.uniform(0.95, 1.05, count), 2),
            "l_discount": rng.integers(0, 11, count) / 100.0,
            "l_tax": rng.integers(0, 9, count) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, count)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, count)],
            "l_shipdate": pa.array(order_dates[okey] + rng.integers(1, 95, count).astype("timedelta64[D]"), pa.timestamp("ms")),
        }
    )


def corpus_tables(seed: int, n_docs: int, n_vecs: int, dim: int = 64) -> dict[str, pa.Table]:
    """documents (word salad with planted near-duplicates) and embeddings
    (unit vectors around ten label centroids)."""
    rng = np.random.default_rng([seed, 2])
    texts = [" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))) for _ in range(n_docs)]
    # near-duplicates: about 5% of documents become another document plus a marker word
    for i in rng.choice(n_docs, n_docs // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    documents = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_WEIGHTS)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )
    centroids = rng.normal(scale=0.15 / np.sqrt(dim), size=(10, dim))
    labels = rng.integers(0, 10, n_vecs)
    vecs = centroids[labels] + rng.normal(scale=1.0 / np.sqrt(dim), size=(n_vecs, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return {"documents": documents, "embeddings": embeddings}


def write_tables(out_dir: str, tables: dict[str, pa.Table]) -> None:
    """Each table as `<out_dir>/<name>.parquet`, the fixture layout."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def lake_rows(seed: int, count: int) -> pa.Table:
    """Lineitem-shaped rows with a unique BIGINT key `l_key`, ordered by key."""
    rng = np.random.default_rng([seed, 3])
    n_orders, n_parts = max(1, count // 4), 2000
    retail = np.round(900.0 + (np.arange(n_parts) % 1000) / 10.0, 2)
    odate = _days("1995-01-01", 2404, rng, n_orders)
    rows = lineitem_rows(rng, count, n_orders, n_parts, 100, odate, retail)
    # an instant (UTC) timestamp, which Spark reads as TIMESTAMP, the type
    # its writer and the driver-side commit path both store
    i = rows.schema.get_field_index("l_shipdate")
    rows = rows.set_column(i, "l_shipdate", rows.column(i).cast(pa.timestamp("us", tz="UTC")))
    keys = np.sort(rng.choice(count * 4, count, replace=False)).astype(np.int64)
    return rows.add_column(0, "l_key", pa.array(keys, pa.int64()))

