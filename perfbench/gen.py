"""Seeded input generators for the benchmark.

The engine only ever sees what these functions write. Two kinds of input:

- Standing tables (`write_tables`): a TPC-H-like star schema plus the
  `events` stream table and a `documents` corpus, shaped like the
  project's sf0.1 fixtures (same columns, types, key ranges and value
  distributions). They are generated from a fixed seed, because the
  workloads model users querying one database; they are written once per
  checkout and reused.
- Workload draws (request streams, key orders, arrival splits, search
  terms): derived from the `--seed` of each run by `run.py` and
  `httpmix.py`.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 20240101
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "search", "view"]
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
US_PER_DAY = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000  # 1995-01-01 in epoch microseconds
EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01


def _ts(values):
    return pa.array(values, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def documents(n, seed):
    """`n` documents of 10-100 words over a 31-word vocabulary; about 5%
    are near-duplicates (a copy of another document plus one word)."""
    rng = np.random.default_rng(seed)
    texts = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[j] for j in rng.choice(5, n, p=LANG_P)], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def star_schema(seed, customers=15000, orders=150000, events=100000,
                parts=20000, suppliers=1000, lineitems=600000):
    rng = np.random.default_rng(seed)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string())})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(customers), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(customers)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, customers), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, customers), pa.float64()),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, customers), pa.string())})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(suppliers), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(suppliers)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, suppliers), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, suppliers), pa.float64())})
    adj = ["large", "hot", "blue", "small", "red", "green", "shiny", "old"]
    noun = ["ring", "bolt", "anvil", "widget", "gear", "valve", "spring", "nut"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(parts), pa.int64()),
        "p_name": pa.array([f"{adj[a]} {noun[b]}" for a, b in
                            zip(rng.integers(0, 8, parts), rng.integers(0, 8, parts))]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, parts)]),
        "p_type": pa.array(rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                                       "STANDARD"], parts)),
        "p_size": pa.array(rng.integers(1, 51, parts), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (np.arange(parts) % 1000) / 10, 1))})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, customers, orders), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], orders)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, orders), pa.float64()),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2405, orders) * US_PER_DAY),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, orders))})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, orders, lineitems), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, parts, lineitems), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, suppliers, lineitems), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, lineitems), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, lineitems).astype(float)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, lineitems)),
        "l_discount": pa.array(rng.integers(0, 11, lineitems) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, lineitems) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], lineitems)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], lineitems)),
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2500, lineitems) * US_PER_DAY)})
    ts = np.sort(EPOCH_2024 + rng.integers(0, 30 * US_PER_DAY, events))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(events), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, customers // 10, events), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, events)),
        "value": pa.array(np.round(rng.exponential(60.0, events), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, events)])})
    return t


def write_tables(path, tables):
    """Write each table as `<path>/<name>.parquet` via a temp dir, so a
    partly written set is never mistaken for a finished one."""
    tmp = path + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    os.replace(tmp, path)
