"""Benchmark inputs: a TPC-H-shaped corpus written as parquet.

The row contents are fixed (generated from a constant RNG seed), so every
ground truth the output checks use holds for any benchmark seed. The
benchmark seed varies only what the program must be indifferent to: the
order in which rows are stored, and (for the lookup workload) where the
typo in each customer-name mention falls.

Columns, types and value ranges follow the TPC-H-shaped testdata the
engine's queries are written against: region, nation, customer, orders,
lineitem, part, supplier, events, documents and embeddings.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 42
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
N_NATIONS = 25
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_WORDS = (["cold", "small", "large", "blue", "red", "green", "old", "new"],
              ["widget", "bolt", "rod", "gear", "valve", "spring", "nut", "pipe"])
PART_TYPES = ["ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD", "SMALL"]
EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]
DOC_WORDS = ("scan column window order sort part agg value line key join merge "
             "group query a vector hash slow stream filter fast the batch spark "
             "table small data big customer row").split()
LANGS = ["en"] * 4 + ["fr", "es", "zh", "de"] * 2
EMBED_DIM = 64
# "customer#" — the typo stays inside this prefix: a typo in the digits
# could turn one customer's name into another customer's label
PREFIX = "customer#"


def sizes(sf: float) -> dict[str, int]:
    """Row counts at TPC-H scale factor ``sf``, as in the engine's testdata
    (sf0.001: 150 customers, 1,500 orders, 6,000 line items; sf0.1: 15,000
    customers, 150,000 orders, 600,000 line items)."""
    return {
        "customers": round(150_000 * sf),
        "orders_per_customer": 10,
        "parts": max(200, round(200_000 * sf)),
        "suppliers": max(10, round(10_000 * sf)),
        "events": round(1_000_000 * sf),
        "docs": max(500, round(50_000 * sf)),
        "vectors": max(500, round(20_000 * sf)),
    }


def _tables(sf: float) -> dict[str, pa.Table]:
    rng = random.Random(CONTENT_SEED)
    size = sizes(sf)
    n_customers, orders_per_customer = size["customers"], size["orders_per_customer"]
    n_parts, n_suppliers, n_docs = size["parts"], size["suppliers"], size["docs"]
    region = pa.table({
        "r_regionkey": pa.array(range(len(REGIONS)), pa.int32()),
        "r_name": REGIONS,
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(N_NATIONS), pa.int32()),
        "n_name": [f"NATION_{k}" for k in range(N_NATIONS)],
        "n_regionkey": pa.array([k % len(REGIONS) for k in range(N_NATIONS)],
                                pa.int32()),
    })
    custkeys = list(range(n_customers))
    customer = pa.table({
        "c_custkey": pa.array(custkeys, pa.int64()),
        "c_name": [f"Customer#{k:09d}" for k in custkeys],
        "c_nationkey": pa.array(
            [rng.randrange(N_NATIONS) for _ in custkeys], pa.int32()),
        "c_acctbal": [round(rng.uniform(-999.99, 9999.99), 2) for _ in custkeys],
        "c_mktsegment": [rng.choice(SEGMENTS) for _ in custkeys],
    })
    n_orders = n_customers * orders_per_customer
    start = dt.datetime(1992, 1, 1)
    orders = pa.table({
        "o_orderkey": pa.array(range(n_orders), pa.int64()),
        "o_custkey": pa.array(
            [rng.randrange(n_customers) for _ in range(n_orders)], pa.int64()),
        "o_orderstatus": [rng.choice("FOP") for _ in range(n_orders)],
        "o_totalprice": [round(rng.uniform(900.0, 500000.0), 2)
                         for _ in range(n_orders)],
        "o_orderdate": pa.array(
            [start + dt.timedelta(days=rng.randrange(2400))
             for _ in range(n_orders)], pa.timestamp("us")),
        "o_orderpriority": [rng.choice(PRIORITIES) for _ in range(n_orders)],
    })
    n_lines = n_orders * 4
    lineitem = pa.table({
        "l_orderkey": pa.array(
            sorted(rng.randrange(n_orders) for _ in range(n_lines)), pa.int64()),
        "l_partkey": pa.array(
            [rng.randrange(n_parts) for _ in range(n_lines)], pa.int64()),
        "l_suppkey": pa.array(
            [rng.randrange(n_suppliers) for _ in range(n_lines)], pa.int64()),
        "l_linenumber": pa.array(
            [rng.randint(1, 7) for _ in range(n_lines)], pa.int32()),
        "l_quantity": [float(rng.randint(1, 50)) for _ in range(n_lines)],
        "l_extendedprice": [round(rng.uniform(900.0, 105000.0), 2)
                            for _ in range(n_lines)],
        "l_discount": [rng.randint(0, 10) / 100 for _ in range(n_lines)],
        "l_tax": [rng.randint(0, 8) / 100 for _ in range(n_lines)],
        "l_returnflag": [rng.choice("NAR") for _ in range(n_lines)],
        "l_linestatus": [rng.choice("OF") for _ in range(n_lines)],
        "l_shipdate": pa.array(
            [start + dt.timedelta(days=rng.randrange(2500))
             for _ in range(n_lines)], pa.timestamp("us")),
    })
    part = pa.table({
        "p_partkey": pa.array(range(n_parts), pa.int64()),
        "p_name": [f"{rng.choice(PART_WORDS[0])} {rng.choice(PART_WORDS[1])}"
                   for _ in range(n_parts)],
        "p_brand": [f"Brand#{rng.randint(1, 25)}" for _ in range(n_parts)],
        "p_type": [rng.choice(PART_TYPES) for _ in range(n_parts)],
        "p_size": pa.array([rng.randint(1, 50) for _ in range(n_parts)],
                           pa.int32()),
        "p_retailprice": [round(900.0 + 0.1 * k, 2) for k in range(n_parts)],
    })
    supplier = pa.table({
        "s_suppkey": pa.array(range(n_suppliers), pa.int64()),
        "s_name": [f"Supplier#{k:09d}" for k in range(n_suppliers)],
        "s_nationkey": pa.array(
            [rng.randrange(N_NATIONS) for _ in range(n_suppliers)], pa.int32()),
        "s_acctbal": [round(rng.uniform(-999.99, 9999.99), 2)
                      for _ in range(n_suppliers)],
    })
    n_events = size["events"]
    t0 = dt.datetime(2024, 1, 1)
    events = pa.table({
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": pa.array(
            sorted(t0 + dt.timedelta(seconds=rng.uniform(0, 30 * 86400))
                   for _ in range(n_events)), pa.timestamp("us")),
        "user_id": pa.array(
            [rng.randrange(max(15, n_customers // 10)) for _ in range(n_events)],
            pa.int64()),
        "event_type": [rng.choice(EVENT_TYPES) for _ in range(n_events)],
        "value": [round(rng.expovariate(1 / 50.0), 2) + 0.01
                  for _ in range(n_events)],
        "props": [f'{{"k": {rng.randrange(100)}}}' for _ in range(n_events)],
    })
    texts = []
    for k in range(n_docs):
        words = [rng.choice(DOC_WORDS) for _ in range(rng.randint(8, 90))]
        if k % 17 == 0:
            words.append("dup")
        texts.append(" ".join(words))
    documents = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [rng.choice(LANGS) for _ in range(n_docs)],
        "source": [f"src{rng.randrange(20)}" for _ in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vectors = []
    for _ in range(size["vectors"]):
        v = [rng.gauss(0.0, 1.0) for _ in range(EMBED_DIM)]
        norm = math.sqrt(sum(x * x for x in v))
        vectors.append([x / norm for x in v])
    embeddings = pa.table({
        "vec_id": pa.array(range(size["vectors"]), pa.int64()),
        "embedding": pa.array(vectors, pa.list_(pa.float32())),
        "label": pa.array([rng.randrange(10) for _ in vectors],
                          pa.int32()),
    })
    return {"region": region, "nation": nation, "customer": customer,
            "orders": orders, "lineitem": lineitem, "part": part,
            "supplier": supplier, "events": events, "documents": documents,
            "embeddings": embeddings}


def _contents(sf: float, cache_dir: str) -> dict[str, pa.Table]:
    """The corpus tables at ``sf``, read from ``cache_dir`` when an earlier
    run wrote them there (they do not depend on the benchmark seed)."""
    cached = os.path.join(cache_dir, f"sf{sf}")
    if not os.path.isdir(cached):
        tmp = f"{cached}.{os.getpid()}"
        os.makedirs(tmp)
        for name, table in _tables(sf).items():
            pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
        try:
            os.rename(tmp, cached)
        except OSError:  # another run cached it first
            shutil.rmtree(tmp, ignore_errors=True)
    return {f.removesuffix(".parquet"): pq.read_table(os.path.join(cached, f))
            for f in sorted(os.listdir(cached))}


def write_corpus(out_dir: str, sf: float, seed: int, cache_dir: str) -> str:
    """Write the corpus at scale factor ``sf`` as one parquet file per table
    under ``out_dir``, each table's rows in a seed-dependent order. Returns
    ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    for name, table in _contents(sf, cache_dir).items():
        order = list(range(table.num_rows))
        rng.shuffle(order)
        pq.write_table(table.take(order), os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def typo_mentions(n_customers: int, seed: int) -> list[tuple[str, int]]:
    """One misspelt mention per customer: a letter of the ``customer#``
    prefix is replaced by a different letter, chosen from ``seed``. Returns
    (mention_norm, custkey) pairs; the custkey is the ground truth."""
    rng = random.Random(seed)
    out = []
    for k in range(n_customers):
        name = f"{PREFIX}{k:09d}"
        pos = rng.randrange(len(PREFIX) - 1)  # a letter, never the '#'
        letter = rng.choice(
            [c for c in "abcdefghijklmnopqrstuvwxyz" if c != name[pos]])
        out.append((name[:pos] + letter + name[pos + 1:], k))
    return out
