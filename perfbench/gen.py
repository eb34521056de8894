"""Seeded input generator for the benchmark.

`base(dir, seed)` writes the ten gate tables with the shapes of the sf0.1
test tables (100,000 events rows over 1,500 series, 5,000 documents with
5% near-duplicates, 2,000 64-d embeddings in 10 weak clusters).

`replica(base_dir, dir, k, seed)` writes a K-times copy of the events table
by the id-offset rule of graft.ScaleGen: copy i adds i * 10**7 to event_id
and user_id, so it holds new series over the same timestamps. The seed
draws one whole-cent offset per copy, added to `value` (the exact-cents
oracles stay exact), and the physical row order of the written files. The
other tables are copied unchanged.
"""
import os
import shutil
import string

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()

DAY_US = 86_400_000_000


def _cents(rng, lo, hi, n):
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _days(rng, start, end, n):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return pa.array(rng.integers(lo, hi + 1, n) * DAY_US, pa.timestamp("us"))


def _write(dir, name, cols, files=1):
    table = pa.table(cols)
    path = os.path.join(dir, f"{name}.parquet")
    if files == 1:
        pq.write_table(table, path)
        return
    os.makedirs(path)
    for i, part in enumerate(np.array_split(np.arange(table.num_rows), files)):
        pq.write_table(table.take(part), os.path.join(path, f"part-{i:05d}.parquet"))


def _events(rng, n=100_000, users=1_500):
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(rng.integers(start, start + 30 * DAY_US, n))
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, users, n),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }


def _documents(rng, n=5_000, dup_share=0.05):
    words = np.array(VOCAB)
    texts = [" ".join(words[rng.integers(0, len(words), rng.integers(10, 101))])
             for _ in range(n)]
    dups = np.sort(rng.choice(np.arange(1, n), int(n * dup_share), replace=False))
    is_dup = np.zeros(n, bool)
    is_dup[dups] = True
    for d in dups:
        sources = np.flatnonzero(~is_dup[:d])
        texts[d] = texts[sources[rng.integers(0, len(sources))]] + " dup"
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "de", "es", "fr", "zh"], n, p=[.4, .15, .15, .15, .15]),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng, n=2_000, dim=64, labels=10):
    centers = rng.normal(size=(labels, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, labels, n)
    x = 0.07 * centers[label] + rng.normal(size=(n, dim)) / np.sqrt(dim)
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    }


def base(dir, seed):
    """Write the ten gate tables at the sf0.1 shapes into `dir`."""
    rng = np.random.default_rng(seed)
    os.makedirs(dir, exist_ok=True)
    i32 = lambda a: np.asarray(a, dtype=np.int32)
    _write(dir, "region", {"r_regionkey": i32(range(5)),
                           "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(dir, "nation", {"n_nationkey": i32(range(25)),
                           "n_name": [f"NATION_{i}" for i in range(25)],
                           "n_regionkey": i32([i % 5 for i in range(25)])})
    n = 15_000
    _write(dir, "customer", {
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": i32(rng.integers(0, 25, n)),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n)})
    n = 1_000
    _write(dir, "supplier", {
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": i32(rng.integers(0, 25, n)),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n)})
    n = 20_000
    _write(dir, "part", {
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(
            rng.choice(["large", "hot", "small", "red", "blue"], n),
            rng.choice(["ring", "bolt", "nut", "gear", "pipe"], n))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": rng.choice(["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL"], n),
        "p_size": i32(rng.integers(1, 51, n)),
        "p_retailprice": np.round(900 + (np.arange(n) % 1000) * 0.1, 2)})
    n = 150_000
    _write(dir, "orders", {
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, 15_000, n),
        "o_orderstatus": rng.choice(["O", "F", "P"], n),
        "o_totalprice": _cents(rng, 1000, 500000, n),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n)})
    n = 600_000
    _write(dir, "lineitem", {
        "l_orderkey": rng.integers(0, 150_000, n),
        "l_partkey": rng.integers(0, 20_000, n),
        "l_suppkey": rng.integers(0, 1_000, n),
        "l_linenumber": i32(rng.integers(1, 8, n)),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _cents(rng, 900, 105000, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["O", "F"], n),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n)})
    _write(dir, "events", _events(rng))
    _write(dir, "documents", _documents(rng))
    _write(dir, "embeddings", _embeddings(rng))


def replica(base_dir, dir, k, seed, files=4):
    """Write a K-times events replica of `base_dir` into `dir`."""
    rng = np.random.default_rng(seed)
    os.makedirs(dir, exist_ok=True)
    ev = pq.read_table(os.path.join(base_dir, "events.parquet"))
    n = ev.num_rows
    cents = rng.integers(0, 100, k)
    copy = np.repeat(np.arange(k), n)
    off = copy.astype(np.int64) * 10_000_000
    value = np.tile(ev["value"].to_numpy(), k)
    cols = {
        "event_id": np.tile(ev["event_id"].to_numpy(), k) + off,
        "ts": pa.concat_arrays([ev["ts"].combine_chunks()] * k),
        "user_id": np.tile(ev["user_id"].to_numpy(), k) + off,
        "event_type": pa.concat_arrays([ev["event_type"].combine_chunks()] * k),
        "value": np.round(np.round(value * 100) + cents[copy]) / 100.0,
        "props": pa.concat_arrays([ev["props"].combine_chunks()] * k),
    }
    order = rng.permutation(n * k)
    table = pa.table(cols).take(order)
    _write(dir, "events", {c: table[c] for c in table.column_names}, files)
    for t in TABLES:
        if t != "events":
            shutil.copyfile(os.path.join(base_dir, f"{t}.parquet"),
                            os.path.join(dir, f"{t}.parquet"))
    return {"copies": k, "cent_offsets": cents.tolist()}
