#!/usr/bin/env python3
"""Seeded generator of the query registry's ten input tables.

Writes `<dir>/<table>.parquet`, one file per table, with the column names
and types `graft.Tables` loads: a TPC-H-like star (region, nation,
customer, supplier, part, orders, lineitem), an `events` stream, a
`documents` corpus with planted near-duplicates, and 64-dimensional
`embeddings` in ten labelled clusters. Row counts follow the 0.01 scale
of the fixtures the registry was written against (see `SIZES`); the values
are drawn from the seed, so the same seed gives the same files.

Usage: python3 perfbench/gen_tables.py <dir> <seed>
"""
import datetime
import math
import os
import random
import sys

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# the 0.01 scale, except documents and embeddings: the DuckDB oracle of
# the similarity queries grows with the square of the embedding count
SIZES = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
         "events": 10000, "documents": 100, "embeddings": 100}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "red", "hot", "cold", "old", "new", "small", "large"]
PART_NOUN = ["bolt", "gear", "ring", "rod", "plate", "anvil", "widget", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en"] * 4 + ["de", "es", "fr", "zh"]
WORDS = ("a agg batch big column customer data dup fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
DIMS = 64


def money(r, lo, hi):
    return round(r.uniform(lo, hi), 2)


def star(r):
    n = SIZES
    region = pd.DataFrame({"r_regionkey": range(5), "r_name": REGIONS})
    nation = pd.DataFrame({"n_nationkey": range(25),
                           "n_name": [f"NATION_{i}" for i in range(25)],
                           "n_regionkey": [i % 5 for i in range(25)]})
    customer = pd.DataFrame({
        "c_custkey": range(n["customer"]),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": [r.randrange(25) for _ in range(n["customer"])],
        "c_acctbal": [money(r, -999.99, 9999.99) for _ in range(n["customer"])],
        "c_mktsegment": [r.choice(SEGMENTS) for _ in range(n["customer"])]})
    supplier = pd.DataFrame({
        "s_suppkey": range(n["supplier"]),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": [r.randrange(25) for _ in range(n["supplier"])],
        "s_acctbal": [money(r, -999.99, 9999.99) for _ in range(n["supplier"])]})
    part = pd.DataFrame({
        "p_partkey": range(n["part"]),
        "p_name": [f"{r.choice(PART_ADJ)} {r.choice(PART_NOUN)}" for _ in range(n["part"])],
        "p_brand": [f"Brand#{r.randint(1, 25)}" for _ in range(n["part"])],
        "p_type": [r.choice(PART_TYPES) for _ in range(n["part"])],
        "p_size": [r.randint(1, 50) for _ in range(n["part"])],
        "p_retailprice": [round(900 + (i % 1000) / 10, 1) for i in range(n["part"])]})
    day0 = datetime.datetime(1995, 1, 1)
    o_date = [day0 + datetime.timedelta(days=r.randrange(2404)) for _ in range(n["orders"])]
    orders = pd.DataFrame({
        "o_orderkey": range(n["orders"]),
        "o_custkey": [r.randrange(n["customer"]) for _ in range(n["orders"])],
        "o_orderstatus": [r.choice(STATUSES) for _ in range(n["orders"])],
        "o_totalprice": [money(r, 1000, 500000) for _ in range(n["orders"])],
        "o_orderdate": o_date,
        "o_orderpriority": [r.choice(PRIORITIES) for _ in range(n["orders"])]})
    li = {k: [] for k in ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                          "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                          "l_returnflag", "l_linestatus", "l_shipdate"]}
    for o in range(n["orders"]):
        for ln in range(1, r.randint(1, 7) + 1):
            li["l_orderkey"].append(o)
            li["l_partkey"].append(r.randrange(n["part"]))
            li["l_suppkey"].append(r.randrange(n["supplier"]))
            li["l_linenumber"].append(ln)
            q = float(r.randint(1, 50))
            li["l_quantity"].append(q)
            li["l_extendedprice"].append(round(q * r.uniform(900, 2100), 2))
            li["l_discount"].append(r.randint(0, 10) / 100)
            li["l_tax"].append(r.randint(0, 8) / 100)
            li["l_returnflag"].append(r.choice("ANR"))
            li["l_linestatus"].append(r.choice("FO"))
            li["l_shipdate"].append(o_date[o] + datetime.timedelta(days=r.randint(1, 120)))
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part, "orders": orders,
            "lineitem": pd.DataFrame(li)}


def events(r):
    n = SIZES["events"]
    t = datetime.datetime(2024, 1, 1)
    ts = []
    for _ in range(n):
        t += datetime.timedelta(microseconds=r.randrange(1, 518_000_000))
        ts.append(t)
    return pd.DataFrame({
        "event_id": range(n), "ts": ts,
        "user_id": [r.randrange(150) for _ in range(n)],
        "event_type": [r.choice(EVENT_TYPES) for _ in range(n)],
        "value": [money(r, 0.01, 490) for _ in range(n)],
        "props": [f'{{"k": {r.randrange(100)}}}' for _ in range(n)]})


def documents(r):
    """A tenth of the documents are near-copies of an earlier one, with a
    few words replaced, so the dedup queries have clusters to find.
    """
    texts = []
    for i in range(SIZES["documents"]):
        if i > 5 and r.random() < 0.1:
            words = texts[r.randrange(i)].split(" ")
            for _ in range(r.randint(1, 3)):
                words[r.randrange(len(words))] = r.choice(WORDS)
        else:
            words = [r.choice(WORDS) for _ in range(r.randint(8, 100))]
        texts.append(" ".join(words))
    n = len(texts)
    return pd.DataFrame({
        "doc_id": range(n), "text": texts,
        "lang": [r.choice(LANGS) for _ in range(n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": [len(t) for t in texts]})


def embeddings(r):
    centers = [[r.gauss(0, 1) for _ in range(DIMS)] for _ in range(10)]
    vecs, labels = [], []
    for _ in range(SIZES["embeddings"]):
        label = r.randrange(10)
        v = [c + r.gauss(0, 0.8) for c in centers[label]]
        norm = math.sqrt(sum(x * x for x in v))
        vecs.append([x / norm for x in v])
        labels.append(label)
    return pd.DataFrame({"vec_id": range(len(vecs)), "embedding": vecs, "label": labels})


# columns that are int32 in the fixtures; the rest keep pandas' int64
INT32 = {"r_regionkey", "n_nationkey", "n_regionkey", "c_nationkey", "s_nationkey",
         "p_size", "l_linenumber", "label"}


def write(out_dir, seed):
    os.makedirs(out_dir, exist_ok=True)
    r = random.Random(seed)
    tables = star(r)
    tables["events"] = events(r)
    tables["documents"] = documents(r)
    tables["embeddings"] = embeddings(r)
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{out_dir}/duckdb_tmp'")
    for name, df in tables.items():
        cols = []
        for c in df.columns:
            if c in INT32:
                cols.append(f"CAST({c} AS INTEGER) AS {c}")
            elif c == "embedding":
                cols.append(f"CAST({c} AS FLOAT[]) AS {c}")
            else:
                cols.append(c)
        con.register("src", df)
        path = os.path.join(out_dir, f"{name}.parquet")
        con.execute(f"COPY (SELECT {', '.join(cols)} FROM src) TO '{path}' (FORMAT PARQUET)")
        con.unregister("src")
    con.close()
    return {name: len(df) for name, df in tables.items()}


if __name__ == "__main__":
    print(write(sys.argv[1], int(sys.argv[2])))
