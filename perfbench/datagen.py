"""Seeded generator for the catalog's ten parquet tables.

The tables follow the shapes the query catalog reads (TPC-H-style star
schema, an `events` stream, a `documents` corpus with planted
near-duplicates and unit-norm `embeddings`): same column names, parquet
types and value domains. Row counts scale with `sf` (sf 0.1 = 600k
lineitem rows). The same (sf, seed) always produces byte-identical
files.

    python3 perfbench/datagen.py <out_dir> [--sf 0.1] [--seed 42]
"""
import argparse
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "old", "red", "small", "tiny"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]


def _ts(days_from, n_days, rng, size):
    """Whole-day timestamps, uniform over [days_from, days_from + n_days)."""
    base = np.datetime64(days_from, "D")
    return (base + rng.integers(0, n_days, size).astype("timedelta64[D]")).astype("datetime64[us]")


def _money(rng, lo, hi, size):
    return np.round(rng.uniform(lo, hi, size), 2)


def tables(sf, seed):
    """Yield (name, pyarrow.Table) for every table, in TABLES order."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)

    yield "region", pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    yield "nation", pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    yield "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)])})
    yield "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    keys = np.arange(n_part, dtype=np.int64)
    names = np.char.add(np.char.add(np.array(PART_ADJ)[rng.integers(0, 8, n_part)], " "),
                        np.array(PART_NOUN)[rng.integers(0, 8, n_part)])
    yield "part", pa.table({
        "p_partkey": pa.array(keys),
        "p_name": pa.array(names),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str))),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2)})
    yield "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(_ts("1995-01-01", 2404, rng, n_ord)),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)])})
    yield "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_line)]),
        "l_shipdate": pa.array(_ts("1995-01-02", 2498, rng, n_line))})
    # microsecond timestamps uniform over 30 days, in event order
    offsets_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    ts = np.datetime64("2024-01-01T00:00:00", "us") + offsets_us.astype("timedelta64[us]")
    yield "events", pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, 1500, n_ev, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)]),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array(np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n_ev).astype(str)), "}"))})
    vocab = np.array(VOCAB)
    lens = rng.integers(10, 101, n_doc)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), n)]) for n in lens]
    # 5% near-duplicates: another document's text with one token appended
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    yield "documents", pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})
    vecs = rng.standard_normal((n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    yield "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb, dtype=np.int32))})


def generate(out_dir, sf=0.1, seed=42):
    """Write every table to <out_dir>/<name>.parquet (one row group each,
    snappy), via a temp name so a killed run never leaves a torn file."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(sf, seed):
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path + ".tmp", compression="snappy",
                       row_group_size=max(1, table.num_rows))
        os.replace(path + ".tmp", path)


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("out_dir")
    ap.add_argument("--sf", type=float, default=0.1)
    ap.add_argument("--seed", type=int, default=42)
    a = ap.parse_args(argv)
    generate(a.out_dir, a.sf, a.seed)


if __name__ == "__main__":
    main(sys.argv[1:])
