"""Seeded benchmark inputs.

The tables follow the schema and value domains of graft's star-schema
test data (TPC-H-like facts, an events stream, a text corpus and an
embedding table). Their content is fixed; the seed picks a row order.
So every seed gives the same rows in a different order, and the same
seed always gives the same files.

Each table is one parquet file with one row group, with the parquet
types of the test data (`events.ts` is TIMESTAMP(MICROS)).

    python3 perfbench/gen.py OUT_DIR [SEED]

writes every table at the test data's sf 0.1 size, for comparing the
two with `perfbench/profile_inputs.py`.
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 42

# rows per unit of scale factor (sf 1 = TPC-H sf 1 sizes); supplier only
# bounds lineitem's foreign keys
ROWS_PER_SF = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
               "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()

DAY_US = 86_400_000_000


def _days(rng, n, start, end):
    """Midnight timestamps (us) uniform over [start, end] (numpy dates)."""
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return pa.array(rng.integers(lo, hi + 1, n) * DAY_US, pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.array(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def region(rng, sf):
    return pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": pa.array(REGIONS, pa.string())})


def nation(rng, sf):
    keys = np.arange(25)
    return pa.table({"n_nationkey": pa.array(keys, pa.int32()),
                     "n_name": pa.array([f"NATION_{k}" for k in keys], pa.string()),
                     "n_regionkey": pa.array(keys % 5, pa.int32())})


def _n(table, sf):
    return max(1, int(ROWS_PER_SF[table] * sf))


def customer(rng, sf):
    n = _n("customer", sf)
    return pa.table({"c_custkey": pa.array(np.arange(n), pa.int64()),
                     "c_name": pa.array([f"Customer#{k:09d}" for k in range(n)], pa.string()),
                     "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
                     "c_acctbal": _money(rng, n, -999.99, 9999.99),
                     "c_mktsegment": _pick(rng, SEGMENTS, n)})


def part(rng, sf):
    n = _n("part", sf)
    keys = np.arange(n)
    names = np.char.add(np.char.add(np.array(PART_ADJ)[rng.integers(0, 8, n)], " "),
                        np.array(PART_NOUN)[rng.integers(0, 8, n)])
    return pa.table({"p_partkey": pa.array(keys, pa.int64()),
                     "p_name": pa.array(names.astype(object), pa.string()),
                     "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)], pa.string()),
                     "p_type": _pick(rng, PART_TYPES, n),
                     "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
                     "p_retailprice": np.round(900 + (keys % 1000) / 10, 1)})


def orders(rng, sf):
    n = _n("orders", sf)
    return pa.table({"o_orderkey": pa.array(np.arange(n), pa.int64()),
                     "o_custkey": pa.array(rng.integers(0, _n("customer", sf), n), pa.int64()),
                     "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
                     "o_totalprice": _money(rng, n, 1000, 500000),
                     "o_orderdate": _days(rng, n, "1995-01-01", "2001-08-01"),
                     "o_orderpriority": _pick(rng, PRIORITIES, n)})


def lineitem(rng, sf):
    n = _n("lineitem", sf)
    return pa.table({"l_orderkey": pa.array(rng.integers(0, _n("orders", sf), n), pa.int64()),
                     "l_partkey": pa.array(rng.integers(0, _n("part", sf), n), pa.int64()),
                     "l_suppkey": pa.array(rng.integers(0, _n("supplier", sf), n), pa.int64()),
                     "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
                     "l_quantity": rng.integers(1, 51, n).astype(np.float64),
                     "l_extendedprice": _money(rng, n, 900, 105000),
                     "l_discount": rng.integers(0, 11, n) / 100,
                     "l_tax": np.round(rng.uniform(0, 0.08, n), 2),
                     "l_returnflag": _pick(rng, ["A", "N", "R"], n),
                     "l_linestatus": _pick(rng, ["F", "O"], n),
                     "l_shipdate": _days(rng, n, "1995-01-02", "2001-11-04")})


def events(rng, sf):
    n = _n("events", sf)
    start_us = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts_us = start_us + np.sort(rng.integers(0, 30 * DAY_US, n))
    return pa.table({"event_id": pa.array(np.arange(n), pa.int64()),
                     "ts": pa.array(ts_us, pa.timestamp("us")),
                     "user_id": pa.array(rng.integers(0, max(1, int(n * 0.015)), n), pa.int64()),
                     "event_type": _pick(rng, EVENT_TYPES, n),
                     "value": np.round(rng.exponential(50, n), 2),
                     "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string())})


def documents(rng, n):
    """Random word sequences of 10-99 words; then one doc in 20, in doc
    order, is replaced by a copy of a random doc with " dup" appended
    (the exact and near duplicates the dedup operators look for)."""
    vocab = np.array(WORDS, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 100))])
             for _ in range(n)]
    for i in np.sort(rng.choice(n, n // 20, replace=False)):
        texts[i] = texts[rng.integers(0, n)] + " dup"
    ids = np.arange(n)
    return pa.table({"doc_id": pa.array(ids, pa.int64()),
                     "text": pa.array(texts, pa.string()),
                     "lang": _pick(rng, LANGS, n, LANG_P),
                     "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
                     "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def embeddings(rng, n, dim=64):
    v = rng.standard_normal((n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({"vec_id": pa.array(np.arange(n), pa.int64()),
                     "embedding": pa.array(list(v), pa.list_(pa.float32())),
                     "label": pa.array(rng.integers(0, 10, n), pa.int32())})


RELATIONAL = {"region": region, "nation": nation, "customer": customer,
              "part": part, "orders": orders, "lineitem": lineitem, "events": events}


def build(table, scale):
    """The fixed content of one table. `scale` holds `sf` for the
    relational tables and `documents`/`embeddings` row counts."""
    # one content stream per table, so a table's rows do not depend on
    # which other tables a workload asks for
    rng = np.random.default_rng([CONTENT_SEED, *table.encode()])
    if table in RELATIONAL:
        return RELATIONAL[table](rng, scale["sf"])
    if table == "documents":
        return documents(rng, scale["documents"])
    return embeddings(rng, scale["embeddings"])


def write(out_dir, tables, scale, seed):
    """Write each table as `<out_dir>/<table>.parquet`, rows permuted by
    `seed`. Returns {table: (rows, bytes)}."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for i, t in enumerate(tables):
        data = build(t, scale)
        perm = np.random.default_rng([seed, i]).permutation(data.num_rows)
        data = data.take(pa.array(perm))
        path = os.path.join(out_dir, f"{t}.parquet")
        pq.write_table(data, path, row_group_size=max(1, data.num_rows), version="2.6")
        sizes[t] = (data.num_rows, os.path.getsize(path))
    return sizes


if __name__ == "__main__":
    names = [*RELATIONAL, "documents", "embeddings"]
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 0
    for t, (rows, nbytes) in write(sys.argv[1], names,
                                   {"sf": 0.1, "documents": 5000, "embeddings": 2000},
                                   seed).items():
        print(f"{t}: {rows} rows, {nbytes} bytes")
