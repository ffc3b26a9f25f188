"""Seeded generator of the fixture tables the graft queries read.

Writes one parquet file per table (region, nation, customer, supplier,
part, orders, lineitem, events, documents, embeddings) with the schemas
and value domains described in FIXTURES.md, so every query and its
DuckDB oracle run unchanged. The same (sf, seed) always yields the same
bytes.

    python3 perfbench/gen.py <out_dir> <sf> <seed>
"""
import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.145, 0.145]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()


def table_sizes(sf):
    small = sf <= 0.01
    return {
        "customer": max(1, round(150_000 * sf)),
        "supplier": max(1, round(10_000 * sf)),
        "part": max(1, round(200_000 * sf)),
        "orders": max(1, round(1_500_000 * sf)),
        "lineitem": max(1, round(6_000_000 * sf)),
        "events": max(1, round(1_000_000 * sf)),
        "documents": 500 if small else round(50_000 * sf),
        "embeddings": 500 if small else round(20_000 * sf),
    }


def days(rng, n, start, span_days):
    base = np.datetime64(start, "us")
    d = rng.integers(0, span_days, n).astype("timedelta64[D]")
    return base + d.astype("timedelta64[us]")


def money(x):
    return np.round(x, 2)


def documents(rng, n):
    ids, texts, langs, sources = [], [], [], []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document: same words, with a
            # trailing marker half of the time (exact copy otherwise)
            t = texts[rng.integers(0, i)]
            if rng.random() < 0.5 and not t.endswith(" dup"):
                t = t + " dup"
        else:
            k = int(rng.integers(10, 100))
            t = " ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k))
        ids.append(i)
        texts.append(t)
        langs.append(LANGS[rng.choice(len(LANGS), p=LANG_P)])
        sources.append(f"src{i % 20}")
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def generate(out_dir, sf, seed):
    rng = np.random.default_rng(seed)
    n = table_sizes(sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": pa.array(money(rng.uniform(-999.99, 9999.99, nc)), pa.float64()),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc), pa.string()),
    })
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": pa.array(money(rng.uniform(-999.99, 9999.99, ns)), pa.float64()),
    })
    npart = n["part"]
    pk = np.arange(npart)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": pa.array(
            [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
             zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))], pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)], pa.string()),
        "p_type": pa.array(rng.choice(PART_TYPES, npart), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (pk % 1000) * 0.1, 1), pa.float64()),
    })
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no), pa.string()),
        "o_totalprice": pa.array(money(rng.uniform(1000, 500000, no)), pa.float64()),
        "o_orderdate": pa.array(days(rng, no, "1995-01-01", 2404), pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, no), pa.string()),
    })
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(float), pa.float64()),
        "l_extendedprice": pa.array(money(rng.uniform(900, 105000, nl)), pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0, pa.float64()),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl), pa.string()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], nl), pa.string()),
        "l_shipdate": pa.array(days(rng, nl, "1995-01-02", 2498), pa.timestamp("us")),
    })
    ne = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, ne)).astype("timedelta64[us]")
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(start + offs, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, round(15_000 * sf)), ne), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, ne), pa.string()),
        "value": pa.array(money(rng.exponential(50.0, ne)), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)], pa.string()),
    })
    t["documents"] = documents(rng, n["documents"])
    nv = n["embeddings"]
    v = rng.standard_normal((nv, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
    })
    os.makedirs(out_dir, exist_ok=True)
    for name, tab in t.items():
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        pq.write_table(tab, tmp)
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
