#!/usr/bin/env python3
"""Write the benchmark's input tables: the ten parquet tables the query
registry reads (the same schemas and row counts as the driver's sf0.1 set),
generated from a fixed seed so every checkout reads identical bytes and the
recorded result digests stay valid.

Usage: python3 perfbench/gen_data.py <out_dir>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
ROWS = {"customer": 15000, "supplier": 1000, "part": 20000, "orders": 150000,
        "lineitem": 600000, "events": 100000, "documents": 5000, "embeddings": 2000}
WORDS = ("a the spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line batch part "
         "fast scan agg query key row").split()
EPOCH_US = {  # microseconds since 1970-01-01 of the date ranges used below
    "1995-01-01": 788918400 * 10**6, "2024-01-01": 1704067200 * 10**6}
DAY_US = 86400 * 10**6


def ts_col(us):
    return pa.array(us, type=pa.timestamp("us"))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(rng):
    n = ROWS
    yield "region", {"r_regionkey": pa.array(np.arange(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    yield "nation", {"n_nationkey": pa.array(np.arange(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())}
    segs = np.array(["MACHINERY", "AUTOMOBILE", "FURNITURE", "BUILDING", "HOUSEHOLD"])
    yield "customer", {"c_custkey": np.arange(n["customer"]),
                       "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
                       "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
                       "c_acctbal": money(rng, -999.99, 9999.99, n["customer"]),
                       "c_mktsegment": segs[rng.integers(0, 5, n["customer"])]}
    yield "supplier", {"s_suppkey": np.arange(n["supplier"]),
                       "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
                       "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
                       "s_acctbal": money(rng, -999.99, 9999.99, n["supplier"])}
    adj = np.array(["large", "hot", "blue", "old", "cold", "red", "small", "green"])
    noun = np.array(["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "nut"])
    types = np.array(["SMALL", "MEDIUM", "PROMO", "LARGE", "ECONOMY", "STANDARD"])
    k = np.arange(n["part"])
    yield "part", {"p_partkey": k,
                   "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, k.size)], " "),
                                         noun[rng.integers(0, 8, k.size)]),
                   "p_brand": np.char.add("Brand#", rng.integers(1, 26, k.size).astype(str)),
                   "p_type": types[rng.integers(0, 6, k.size)],
                   "p_size": pa.array(rng.integers(1, 51, k.size), pa.int32()),
                   "p_retailprice": np.round(900 + (k % 1000) * 0.1, 1)}
    no = n["orders"]
    yield "orders", {"o_orderkey": np.arange(no),
                     "o_custkey": rng.integers(0, n["customer"], no),
                     "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
                     "o_totalprice": money(rng, 1000, 500000, no),
                     "o_orderdate": ts_col(EPOCH_US["1995-01-01"] + rng.integers(0, 2404, no) * DAY_US),
                     "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                                  "5-LOW"])[rng.integers(0, 5, no)]}
    nl = n["lineitem"]
    yield "lineitem", {"l_orderkey": rng.integers(0, no, nl),
                       "l_partkey": rng.integers(0, n["part"], nl),
                       "l_suppkey": rng.integers(0, n["supplier"], nl),
                       "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
                       "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
                       "l_extendedprice": money(rng, 900, 105000, nl),
                       "l_discount": rng.integers(0, 11, nl) / 100.0,
                       "l_tax": rng.integers(0, 9, nl) / 100.0,
                       "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
                       "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
                       "l_shipdate": ts_col(EPOCH_US["1995-01-01"] + rng.integers(1, 2500, nl) * DAY_US)}
    ne = n["events"]
    yield "events", {"event_id": np.arange(ne),
                     "ts": ts_col(np.sort(EPOCH_US["2024-01-01"] + rng.integers(0, 30 * DAY_US, ne))),
                     "user_id": rng.integers(0, 1500, ne),
                     "event_type": np.array(["signup", "click", "error", "view", "purchase"])[
                         rng.integers(0, 5, ne)],
                     "value": np.round(rng.exponential(50.0, ne), 2),
                     "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, ne)]}
    yield "documents", documents(rng, n["documents"])
    yield "embeddings", embeddings(rng, n["embeddings"])


def documents(rng, n):
    """Random-word texts; about one document in ten is a light edit of an
    earlier one and one in five hundred an exact copy, so the dedup and
    clustering operators find real duplicate structure."""
    words = np.array(WORDS)
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.002:
            texts.append(texts[rng.integers(0, i)])
        elif i > 10 and r < 0.1:
            toks = texts[rng.integers(0, i)].split(" ")
            for j in rng.integers(0, len(toks), rng.integers(1, 4)):
                toks[j] = words[rng.integers(0, words.size)]
            texts.append(" ".join(toks))
        else:
            texts.append(" ".join(words[rng.integers(0, words.size, rng.integers(10, 101))]))
    langs = np.array(["en", "en", "de", "fr", "es", "zh"])
    return {"doc_id": np.arange(n), "text": texts,
            "lang": langs[rng.integers(0, 6, n)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}


def embeddings(rng, n, dim=64, labels=10):
    """Unit vectors around one centroid per label; 2% are near-copies of an
    earlier vector (the near-duplicate pairs the embedding dedups find)."""
    centroids = rng.normal(0, 1, (labels, dim))
    label = rng.integers(0, labels, n)
    vec = centroids[label] * 0.35 + rng.normal(0, 1, (n, dim))
    for i in np.nonzero(rng.random(n) < 0.02)[0]:
        if i > 0:
            j = rng.integers(0, i)
            vec[i] = vec[j] + rng.normal(0, 0.01, dim)
            label[i] = label[j]
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    return {"vec_id": np.arange(n),
            "embedding": pa.array(list(vec.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32())}


def main(out):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(DATA_SEED)
    for name, cols in tables(rng):
        tmp = os.path.join(out, f".{name}.parquet.tmp")
        pq.write_table(pa.table(cols), tmp)
        os.replace(tmp, os.path.join(out, f"{name}.parquet"))


if __name__ == "__main__":
    main(sys.argv[1])
