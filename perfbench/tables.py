"""Seeded tables for the registry queries.

The registry queries read a TPC-H-like star schema (no ``part`` table:
none of the benchmarked queries reads it) plus a ``documents`` table, one
parquet file per table in one directory. This module writes
those tables from a seed, with the value domains the queries and their
DuckDB oracles expect: a 31-word vocabulary with planted near-duplicate
documents, orders over 1995-2001, 25 nations in 5 regions.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("the stream query row fast small spark group customer line sort "
         "hash batch dup data filter value big key order table scan merge "
         "part window join slow agg column a vector").split()
LANGS = ("en",) * 3 + ("es", "zh", "de", "fr")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def _day(rng: random.Random, lo: dt.date, hi: dt.date) -> dt.datetime:
    d = lo + dt.timedelta(days=rng.randrange((hi - lo).days + 1))
    return dt.datetime(d.year, d.month, d.day)


def _documents(rng: random.Random, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.08:
            # near-duplicate of an earlier doc: same text, a few words
            # swapped, so prefix dedup and MinHash-LSH both find work
            words = texts[rng.randrange(i)].split()
            for _ in range(rng.randint(0, 3)):
                words[rng.randrange(len(words))] = rng.choice(VOCAB)
        else:
            words = [rng.choice(VOCAB) for _ in range(rng.randint(10, 99))]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": [rng.choice(LANGS) for _ in range(n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _star(rng: random.Random, sf: float) -> dict[str, pa.Table]:
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 5)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li = 4 * n_ord
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": list(REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array([rng.randrange(25) for _ in range(n_cust)], pa.int32()),
        "c_acctbal": [round(rng.uniform(-999, 9999), 2) for _ in range(n_cust)],
        "c_mktsegment": [rng.choice(SEGMENTS) for _ in range(n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array([rng.randrange(25) for _ in range(n_supp)], pa.int32()),
        "s_acctbal": [round(rng.uniform(-999, 9999), 2) for _ in range(n_supp)]})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array([rng.randrange(n_cust) for _ in range(n_ord)], pa.int64()),
        "o_orderstatus": [rng.choice("FOP") for _ in range(n_ord)],
        "o_totalprice": [round(rng.uniform(900, 500_000), 2) for _ in range(n_ord)],
        "o_orderdate": pa.array(
            [_day(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1)) for _ in range(n_ord)],
            pa.timestamp("us")),
        "o_orderpriority": [rng.choice(PRIORITIES) for _ in range(n_ord)]})
    qty = [float(rng.randint(1, 50)) for _ in range(n_li)]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array([rng.randrange(n_ord) for _ in range(n_li)], pa.int64()),
        "l_partkey": pa.array([rng.randrange(n_part) for _ in range(n_li)], pa.int64()),
        "l_suppkey": pa.array([rng.randrange(n_supp) for _ in range(n_li)], pa.int64()),
        "l_linenumber": pa.array([rng.randint(1, 7) for _ in range(n_li)], pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": [round(q * rng.uniform(900, 2100), 2) for q in qty],
        "l_discount": [rng.randint(0, 10) / 100 for _ in range(n_li)],
        "l_tax": [rng.randint(0, 8) / 100 for _ in range(n_li)],
        "l_returnflag": [rng.choice("ANR") for _ in range(n_li)],
        "l_linestatus": [rng.choice("OF") for _ in range(n_li)],
        "l_shipdate": pa.array(
            [_day(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4)) for _ in range(n_li)],
            pa.timestamp("us"))})
    return t


def write_tables(out_dir: str, seed: int, sf: float, star_sf: float) -> None:
    """Write every table as ``<out_dir>/<name>.parquet``: ``documents`` at
    scale ``sf`` (500,000 rows per unit), the star schema at ``star_sf``."""
    rng = random.Random(f"perfbench-registry:{seed}")
    tables = _star(rng, star_sf)
    tables["documents"] = _documents(rng, int(500_000 * sf))
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


TABLES = ("region", "nation", "customer", "supplier", "orders", "lineitem",
          "documents")
