"""Deterministic input tables for the benchmark.

Writes the ten tables the query surface reads (the TPC-H-shaped star
schema, `events`, `documents`, `embeddings`) as one parquet file each,
with the same column names and types as the harness test data, at the
size of its smallest scale (6,000 line items, 500 documents, 500
vectors). The tables depend only on DATA_SEED, never on the benchmark
run's seed, so expected result digests can be recorded once.

Usage: python3 gendata.py <out_dir>
"""
import datetime
import math
import os
import random
import sys

import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

N_CUSTOMER = 150
N_SUPPLIER = 10
N_PART = 200
N_ORDERS = 1500
N_LINEITEM = 6000
N_EVENTS = 1000
N_USERS = 15
N_DOCS = 500
N_VECS = 500
DIM = 64

WORDS = ("scan column window order sort part agg value line key join merge group "
         "query a vector hash slow stream filter fast the batch spark table small "
         "data big customer row").split()


def write(out, name, schema, cols):
    table = pa.table(cols, schema=schema)
    pq.write_table(table, os.path.join(out, f"{name}.parquet"))


def money(r, lo, hi):
    return round(r.uniform(lo, hi), 2)


def star(r, out):
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    write(out, "region", pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]),
          {"r_regionkey": list(range(5)), "r_name": regions})
    write(out, "nation",
          pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()), ("n_regionkey", pa.int32())]),
          {"n_nationkey": list(range(25)), "n_name": [f"NATION_{i}" for i in range(25)],
           "n_regionkey": [i % 5 for i in range(25)]})

    segments = ["FURNITURE", "BUILDING", "MACHINERY", "HOUSEHOLD", "AUTOMOBILE"]
    write(out, "customer",
          pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()), ("c_nationkey", pa.int32()),
                     ("c_acctbal", pa.float64()), ("c_mktsegment", pa.string())]),
          {"c_custkey": list(range(N_CUSTOMER)),
           "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
           "c_nationkey": [r.randrange(25) for _ in range(N_CUSTOMER)],
           "c_acctbal": [money(r, -999.99, 9999.99) for _ in range(N_CUSTOMER)],
           "c_mktsegment": [r.choice(segments) for _ in range(N_CUSTOMER)]})
    write(out, "supplier",
          pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()), ("s_nationkey", pa.int32()),
                     ("s_acctbal", pa.float64())]),
          {"s_suppkey": list(range(N_SUPPLIER)),
           "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
           "s_nationkey": [r.randrange(25) for _ in range(N_SUPPLIER)],
           "s_acctbal": [money(r, -999.99, 9999.99) for _ in range(N_SUPPLIER)]})

    adjs = ["cold", "hot", "small", "large", "red", "blue", "old", "new"]
    nouns = ["widget", "bolt", "gear", "rod", "anvil", "ring", "plate", "gizmo"]
    types = ["ECONOMY", "PROMO", "MEDIUM", "SMALL", "LARGE", "STANDARD"]
    prices = [round(900.0 + 0.1 * i, 2) for i in range(N_PART)]
    write(out, "part",
          pa.schema([("p_partkey", pa.int64()), ("p_name", pa.string()), ("p_brand", pa.string()),
                     ("p_type", pa.string()), ("p_size", pa.int32()), ("p_retailprice", pa.float64())]),
          {"p_partkey": list(range(N_PART)),
           "p_name": [f"{r.choice(adjs)} {r.choice(nouns)}" for _ in range(N_PART)],
           "p_brand": [f"Brand#{r.randint(1, 25)}" for _ in range(N_PART)],
           "p_type": [r.choice(types) for _ in range(N_PART)],
           "p_size": [r.randint(1, 50) for _ in range(N_PART)],
           "p_retailprice": prices})

    first, last = datetime.date(1995, 1, 1), datetime.date(2001, 8, 1)
    span = (last - first).days
    odates = [datetime.datetime.combine(first + datetime.timedelta(days=r.randint(0, span)),
                                        datetime.time()) for _ in range(N_ORDERS)]
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    write(out, "orders",
          pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()), ("o_orderstatus", pa.string()),
                     ("o_totalprice", pa.float64()), ("o_orderdate", pa.timestamp("us")),
                     ("o_orderpriority", pa.string())]),
          {"o_orderkey": list(range(N_ORDERS)),
           "o_custkey": [r.randrange(N_CUSTOMER) for _ in range(N_ORDERS)],
           "o_orderstatus": [r.choice("OFP") for _ in range(N_ORDERS)],
           "o_totalprice": [money(r, 1000.0, 450000.0) for _ in range(N_ORDERS)],
           "o_orderdate": odates,
           "o_orderpriority": [r.choice(prios) for _ in range(N_ORDERS)]})

    cols = {k: [] for k in ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
                            "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
                            "l_linestatus", "l_shipdate"]}
    for _ in range(N_LINEITEM):
        ok, pk = r.randrange(N_ORDERS), r.randrange(N_PART)
        qty = float(r.randint(1, 50))
        cols["l_orderkey"].append(ok)
        cols["l_partkey"].append(pk)
        cols["l_suppkey"].append(r.randrange(N_SUPPLIER))
        cols["l_linenumber"].append(r.randint(1, 7))
        cols["l_quantity"].append(qty)
        cols["l_extendedprice"].append(round(qty * prices[pk] * r.uniform(0.9, 1.1), 2))
        cols["l_discount"].append(r.randint(0, 10) / 100)
        cols["l_tax"].append(r.randint(0, 8) / 100)
        cols["l_returnflag"].append(r.choice("NRA"))
        cols["l_linestatus"].append(r.choice("FO"))
        cols["l_shipdate"].append(odates[ok] + datetime.timedelta(days=r.randint(1, 120)))
    write(out, "lineitem",
          pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()), ("l_suppkey", pa.int64()),
                     ("l_linenumber", pa.int32()), ("l_quantity", pa.float64()),
                     ("l_extendedprice", pa.float64()), ("l_discount", pa.float64()),
                     ("l_tax", pa.float64()), ("l_returnflag", pa.string()),
                     ("l_linestatus", pa.string()), ("l_shipdate", pa.timestamp("us"))]),
          cols)


def events(r, out):
    ts, t = [], datetime.datetime(2024, 1, 1)
    for _ in range(N_EVENTS):
        t += datetime.timedelta(microseconds=int(r.expovariate(1.0) * 2.6e9))
        ts.append(t)
    kinds = ["click", "purchase", "error", "signup", "view"]
    write(out, "events",
          pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us")), ("user_id", pa.int64()),
                     ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string())]),
          {"event_id": list(range(N_EVENTS)), "ts": ts,
           "user_id": [r.randrange(N_USERS) for _ in range(N_EVENTS)],
           "event_type": [r.choice(kinds) for _ in range(N_EVENTS)],
           "value": [money(r, 0.01, 330.0) for _ in range(N_EVENTS)],
           "props": [f'{{"k": {r.randrange(100)}}}' for _ in range(N_EVENTS)]})


def documents(r, out):
    # About one document in ten is a near-duplicate of an earlier one
    # (its text plus trailing "dup" tokens), so the dedup surface finds work.
    texts = []
    for i in range(N_DOCS):
        if i >= 20 and r.random() < 0.1:
            text = r.choice(texts).rstrip() + " dup" * r.randint(1, 2)
        else:
            text = " ".join(r.choice(WORDS) for _ in range(r.randint(10, 99)))
            if r.random() < 0.05:
                text += " "
        texts.append(text)
    langs = ["en"] * 8 + ["fr", "es", "zh", "de"] * 3
    write(out, "documents",
          pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
                     ("source", pa.string()), ("n_chars", pa.int64())]),
          {"doc_id": list(range(N_DOCS)), "text": texts,
           "lang": [r.choice(langs) for _ in range(N_DOCS)],
           "source": [f"src{i % 20}" for i in range(N_DOCS)],
           "n_chars": [len(t) for t in texts]})


def embeddings(r, out):
    vecs = []
    for _ in range(N_VECS):
        v = [r.gauss(0.0, 1.0) for _ in range(DIM)]
        n = math.sqrt(sum(x * x for x in v))
        vecs.append([x / n for x in v])
    write(out, "embeddings",
          pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                     ("label", pa.int32())]),
          {"vec_id": list(range(N_VECS)), "embedding": vecs,
           "label": [r.randrange(10) for _ in range(N_VECS)]})


def main():
    out = sys.argv[1]
    os.makedirs(out, exist_ok=True)
    # One generator per table group: adding a column to one group never
    # shifts the values of another.
    star(random.Random(DATA_SEED), out)
    events(random.Random(DATA_SEED + 1), out)
    documents(random.Random(DATA_SEED + 2), out)
    embeddings(random.Random(DATA_SEED + 3), out)


if __name__ == "__main__":
    main()
