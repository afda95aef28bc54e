#!/usr/bin/env python3
"""Write the star schema and curation tables the analytics and curation
workloads query, at scale factor SF, as one parquet file per table.

The distributions follow the engine's test tables (TPC-H-like star
schema plus `events`, `documents` and `embeddings`):

  region/nation   5/25 fixed rows
  customer        150_000*sf, acctbal U(-1000,10000), 5 segments
  supplier         10_000*sf
  part            200_000*sf, name adj x noun (8x8), 25 brands, 6 types
  orders        1_500_000*sf, dates U[1995-01-01, 2001-08-01]
  lineitem        Poisson(4) lines per order
  events        1_000_000*sf, 15_000*sf users, ts sorted over Jan 2024
  documents        50_000*sf, 8..100 words of a 31-word vocabulary,
                               ~1/625 exact duplicates
  embeddings       20_000*sf, 64-dim unit vectors in 10 clusters

The tables are fixed for a given SF: every run of a workload reads the
same bytes, so the DuckDB oracle runs once per checkout. Each table
draws from its own PCG64 stream seeded from its name.

Usage: gen_tables.py SF OUTDIR
"""
import pathlib
import sys
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400_000_000


def rng(name):
    return np.random.Generator(
        np.random.PCG64(42_000_000 + zlib.crc32(name.encode())))


def ts_us(datestr):
    return np.datetime64(datestr, "us").astype(np.int64)


def tables(sf):
    yield "region", pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                            "MIDDLE EAST"]),
    })
    yield "nation", pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })

    n = int(150_000 * sf)
    r = rng("customer")
    yield "customer", pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(r.integers(0, 25, n).astype(np.int32)),
        "c_acctbal": pa.array(np.round(r.uniform(-1000, 10000, n), 2)),
        "c_mktsegment": pa.array(np.array(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
        )[r.integers(0, 5, n)]),
    })

    n = int(10_000 * sf)
    r = rng("supplier")
    yield "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": pa.array(r.integers(0, 25, n).astype(np.int32)),
        "s_acctbal": pa.array(np.round(r.uniform(-1000, 10000, n), 2)),
    })

    n = int(200_000 * sf)
    r = rng("part")
    adjs = np.array(["large", "hot", "blue", "old", "cold", "red", "new",
                     "small"])
    nouns = np.array(["ring", "bolt", "plate", "gear", "widget", "gizmo",
                      "anvil", "rod"])
    keys = np.arange(n, dtype=np.int64)
    yield "part", pa.table({
        "p_partkey": pa.array(keys),
        "p_name": pa.array(np.char.add(
            np.char.add(adjs[r.integers(0, 8, n)], " "),
            nouns[r.integers(0, 8, n)])),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(0, 25, n)]),
        "p_type": pa.array(np.array(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
        )[r.integers(0, 6, n)]),
        "p_size": pa.array(r.integers(1, 51, n).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) * 0.1, 2)),
    })

    n_ord = int(1_500_000 * sf)
    n_cust = int(150_000 * sf)
    r = rng("orders")
    d0, d1 = ts_us("1995-01-01"), ts_us("2001-08-01")
    days = (d1 - d0) // DAY_US + 1
    yield "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord)),
        "o_orderstatus": pa.array(
            np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(np.round(r.uniform(1000, 500_000, n_ord), 2)),
        "o_orderdate": pa.array(d0 + r.integers(0, days, n_ord) * DAY_US,
                                pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[r.integers(0, 5, n_ord)]),
    })

    r = rng("lineitem")
    per_order = r.poisson(4.0, n_ord)
    n_li = int(per_order.sum())
    n_part, n_supp = int(200_000 * sf), int(10_000 * sf)
    shipbase = d0 + r.integers(0, days, n_li) * DAY_US
    yield "lineitem", pa.table({
        "l_orderkey": pa.array(
            np.repeat(np.arange(n_ord, dtype=np.int64), per_order)),
        "l_partkey": pa.array(r.integers(0, n_part, n_li)),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_li)),
        "l_linenumber": pa.array(r.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(r.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(r.uniform(900, 105_000, n_li), 2)),
        "l_discount": pa.array(np.round(r.integers(0, 11, n_li) * 0.01, 2)),
        "l_tax": pa.array(np.round(r.integers(0, 9, n_li) * 0.01, 2)),
        "l_returnflag": pa.array(
            np.array(["A", "N", "R"])[r.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[r.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(shipbase + r.integers(1, 96, n_li) * DAY_US,
                               pa.timestamp("us")),
    })

    n = int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    r = rng("events")
    t0, t1 = ts_us("2024-01-01"), ts_us("2024-01-31")
    yield "events", pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(np.sort(r.integers(t0, t1, n)), pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, n_users, n)),
        "event_type": pa.array(np.array(
            ["click", "error", "purchase", "signup", "view"]
        )[r.integers(0, 5, n)]),
        "value": pa.array(np.round(r.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n)]),
    })

    n = int(50_000 * sf)
    r = rng("documents")
    vocab = np.array(
        "a agg batch big column customer data dup fast filter group hash "
        "join key line merge order part query row scan slow small sort "
        "spark stream table the value vector window".split())
    langs = np.array(["en", "de", "es", "fr", "zh"])
    lang_col = langs[r.choice(5, n, p=[0.4, 0.15, 0.15, 0.15, 0.15])]
    texts = [" ".join(vocab[r.integers(0, len(vocab), k)])
             for k in r.integers(8, 101, n)]
    for i in r.choice(np.arange(n // 2, n), max(1, n // 625), replace=False):
        texts[i] = texts[int(r.integers(0, n // 2))]
    yield "documents", pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(lang_col),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })

    n = int(20_000 * sf)
    r = rng("embeddings")
    centers = r.normal(0, 1, (10, 64))
    labels = r.integers(0, 10, n)
    vecs = centers[labels] + r.normal(0, 0.3, (n, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(
        np.float32)
    yield "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })


def main(sf, outdir):
    out = pathlib.Path(outdir)
    out.mkdir(parents=True, exist_ok=True)
    for name, table in tables(sf):
        pq.write_table(table, out / f"{name}.parquet")


if __name__ == "__main__":
    main(float(sys.argv[1]), sys.argv[2])
