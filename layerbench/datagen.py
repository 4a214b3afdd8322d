"""Seeded generator of the engine's ten input tables.

The tables have the schemas, row counts, key relations and value
distributions measured on the engine's sf0.1 test set (README.md,
"Inputs"): a TPC-H-like star schema (region, nation, customer, supplier,
part, orders, lineitem), an `events` stream and the `documents` /
`embeddings` corpus. Every foreign key points at a generated row, so
joins keep all their rows. The same seed always gives the same bytes;
another seed gives other rows of the same shape.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Row counts of the sf0.1 set.
ROWS = {"customer": 15000, "supplier": 1000, "part": 20000, "orders": 150000,
        "lineitem": 600000, "events": 100000, "documents": 5000,
        "embeddings": 2000, "users": 1500}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
DUP_SHARE = 0.05
DIMS = 64

US_PER_DAY = 86_400_000_000


def _days(rng, lo, hi, n):
    """Midnight timestamps (µs) uniform over the days [lo, hi]."""
    lo_d = np.datetime64(lo, "D").astype(np.int64)
    hi_d = np.datetime64(hi, "D").astype(np.int64)
    return rng.integers(lo_d, hi_d + 1, n) * US_PER_DAY


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix, n):
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _write(out_dir, name, cols, schema):
    table = pa.Table.from_pydict(cols, schema=schema)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def generate(seed, out_dir):
    """Write the ten tables for `seed` into `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.Generator(np.random.PCG64(seed))
    ts_us = pa.timestamp("us")

    _write(out_dir, "region",
           {"r_regionkey": list(range(5)), "r_name": REGIONS},
           pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]))
    _write(out_dir, "nation",
           {"n_nationkey": list(range(25)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": [i % 5 for i in range(25)]},
           pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()),
                      ("n_regionkey", pa.int32())]))

    n = ROWS["customer"]
    _write(out_dir, "customer",
           {"c_custkey": np.arange(n), "c_name": _names("Customer", n),
            "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": rng.choice(SEGMENTS, n)},
           pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                      ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                      ("c_mktsegment", pa.string())]))

    n = ROWS["supplier"]
    _write(out_dir, "supplier",
           {"s_suppkey": np.arange(n), "s_name": _names("Supplier", n),
            "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n)},
           pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()),
                      ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]))

    n = ROWS["part"]
    adj = rng.choice(ADJECTIVES, n)
    noun = rng.choice(NOUNS, n)
    _write(out_dir, "part",
           {"p_partkey": np.arange(n),
            "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
            "p_type": rng.choice(PART_TYPES, n),
            "p_size": rng.integers(1, 51, n).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n) % 1000) * 0.1, 1)},
           pa.schema([("p_partkey", pa.int64()), ("p_name", pa.string()),
                      ("p_brand", pa.string()), ("p_type", pa.string()),
                      ("p_size", pa.int32()), ("p_retailprice", pa.float64())]))

    n_orders = ROWS["orders"]
    _write(out_dir, "orders",
           {"o_orderkey": np.arange(n_orders),
            "o_custkey": rng.integers(0, ROWS["customer"], n_orders),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
            "o_totalprice": _money(rng, 1000, 500000, n_orders),
            "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", n_orders), ts_us),
            "o_orderpriority": rng.choice(PRIORITIES, n_orders)},
           pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                      ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                      ("o_orderdate", ts_us), ("o_orderpriority", pa.string())]))

    n = ROWS["lineitem"]
    _write(out_dir, "lineitem",
           {"l_orderkey": rng.integers(0, n_orders, n),
            "l_partkey": rng.integers(0, ROWS["part"], n),
            "l_suppkey": rng.integers(0, ROWS["supplier"], n),
            "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, n),
            "l_discount": np.round(rng.uniform(0, 0.10, n), 2),
            "l_tax": np.round(rng.uniform(0, 0.08, n), 2),
            "l_returnflag": rng.choice(["A", "N", "R"], n),
            "l_linestatus": rng.choice(["F", "O"], n),
            "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", n), ts_us)},
           pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                      ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                      ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
                      ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                      ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                      ("l_shipdate", ts_us)]))

    n = ROWS["events"]
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = start + np.sort(rng.integers(0, 30 * US_PER_DAY, n))
    _write(out_dir, "events",
           {"event_id": np.arange(n), "ts": pa.array(ts, ts_us),
            "user_id": rng.integers(0, ROWS["users"], n),
            "event_type": rng.choice(EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]},
           pa.schema([("event_id", pa.int64()), ("ts", ts_us), ("user_id", pa.int64()),
                      ("event_type", pa.string()), ("value", pa.float64()),
                      ("props", pa.string())]))

    # Documents: 10-99 words each; a share of them repeat another
    # document's text with a trailing " dup", so dedup finds pairs.
    n = ROWS["documents"]
    lengths = rng.integers(10, 100, n)
    words = rng.choice(VOCAB, int(lengths.sum()))
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n)]
    dups = rng.choice(n, int(n * DUP_SHARE), replace=False)
    for i, j in zip(dups, rng.integers(0, n, len(dups))):
        if i != j:
            texts[i] = texts[j] + " dup"
    _write(out_dir, "documents",
           {"doc_id": np.arange(n), "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64)},
           pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                      ("lang", pa.string()), ("source", pa.string()),
                      ("n_chars", pa.int64())]))

    n = ROWS["embeddings"]
    v = rng.standard_normal((n, DIMS))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings",
           {"vec_id": np.arange(n), "embedding": list(v),
            "label": rng.integers(0, 10, n).astype(np.int32)},
           pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                      ("label", pa.int32())]))
