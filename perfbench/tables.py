"""Seeded generator for the tables the registry queries read.

Writes one parquet file per table (region nation customer supplier part
orders lineitem events documents embeddings) with the column names, types,
row counts and value distributions of the repository's sf0.1 test tables
(TESTDATA.md), so a checkout needs no data from outside it. The same seed
gives byte-identical tables.

    python3 perfbench/tables.py <seed> <out_dir>
"""
import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()

# sf0.1 row counts
SIZES = dict(customer=15000, supplier=1000, part=20000, orders=150000,
             lineitem=600000, events=100000, users=1500, documents=5000,
             embeddings=2000, dim=64, labels=10)

WORDS = ("a agg batch big column customer data dup fast filter group hash join "
         "key line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()


def _ts(base, seconds):
    return (np.datetime64(base, "us") + (seconds * 1e6).astype("timedelta64[us]"))


def _days(base, days):
    return np.datetime64(base, "us") + (days.astype("int64") * 86400 * 10**6).astype(
        "timedelta64[us]")


def generate(seed, out_dir):
    rng = np.random.default_rng(seed)
    n = SIZES
    t = {}
    t["region"] = {
        "r_regionkey": pa.array(np.arange(5, dtype="int32")),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    t["nation"] = {
        "n_nationkey": pa.array(np.arange(25, dtype="int32")),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype="int32") % 5)}
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = {
        "c_custkey": pa.array(np.arange(n["customer"], dtype="int64")),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]).astype("int32")),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["customer"]), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n["customer"])]}
    t["supplier"] = {
        "s_suppkey": pa.array(np.arange(n["supplier"], dtype="int64")),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]).astype("int32")),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["supplier"]), 2)}
    adj = np.array("blue cold hot large new old red small".split())
    noun = np.array("anvil bolt gear gizmo plate ring rod widget".split())
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    parts = n["part"]
    price = np.round(900.0 + (np.arange(parts) % 1000) * 0.1, 2)
    t["part"] = {
        "p_partkey": pa.array(np.arange(parts, dtype="int64")),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, parts)], " "),
                              noun[rng.integers(0, 8, parts)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, parts).astype(str)),
        "p_type": types[rng.integers(0, 6, parts)],
        "p_size": pa.array(rng.integers(1, 51, parts).astype("int32")),
        "p_retailprice": price}
    no = n["orders"]
    odate = _days("1995-01-01", rng.integers(0, 2405, no))
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = {
        "o_orderkey": pa.array(np.arange(no, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, n["customer"], no).astype("int64")),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": prio[rng.integers(0, 5, no)]}
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype("float64")
    t["lineitem"] = {
        "l_orderkey": pa.array(rng.integers(0, no, nl).astype("int64")),
        "l_partkey": pa.array(rng.integers(0, parts, nl).astype("int64")),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl).astype("int64")),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype("int32")),
        "l_quantity": qty,
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": pa.array(_days("1995-01-02", rng.integers(0, 2499, nl)),
                               pa.timestamp("us"))}
    ne = n["events"]
    secs = np.sort(rng.uniform(0, 30 * 86400, ne))
    etypes = np.array(["click", "error", "purchase", "signup", "view"])
    t["events"] = {
        "event_id": pa.array(np.arange(ne, dtype="int64")),
        "ts": pa.array(_ts("2024-01-01", secs), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n["users"], ne).astype("int64")),
        "event_type": etypes[rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]}
    nd = n["documents"]
    words = np.array(WORDS)
    texts = []
    for i in range(nd):
        r = rng.random()
        if i > 10 and r < 0.002:  # exact duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.05:  # near duplicate: one word swapped
            ws = texts[int(rng.integers(0, i))].split(" ")
            ws[int(rng.integers(0, len(ws)))] = "dup"
            texts.append(" ".join(ws))
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), rng.integers(10, 101))]))
    langs = np.array(["en", "de", "es", "fr", "zh"])
    t["documents"] = {
        "doc_id": pa.array(np.arange(nd, dtype="int64")),
        "text": texts,
        "lang": langs[rng.choice(5, nd, p=[0.4, 0.15, 0.15, 0.15, 0.15])],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array(np.array([len(x) for x in texts], dtype="int64"))}
    nv, dim = n["embeddings"], n["dim"]
    labels = rng.integers(0, n["labels"], nv)
    centers = rng.normal(size=(n["labels"], dim))
    vecs = centers[labels] + rng.normal(scale=0.8, size=(nv, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    t["embeddings"] = {
        "vec_id": pa.array(np.arange(nv, dtype="int64")),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype("int32"))}

    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        cols = {k: v if isinstance(v, pa.Array) else pa.array(v) for k, v in t[name].items()}
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    generate(int(sys.argv[1]), sys.argv[2])
