"""Seeded input generator for the benchmark.

Writes the ten star-schema / corpus tables the engine reads
(`<name>.parquet`, one file and one row group each, the same columns and
types as the project's test data) plus `arrivals.parquet`, which assigns
every document to one micro-batch arrival, and `arrivals/<k>.parquet`, the
documents of arrival k.

The seed decides content and row order only: row counts, value domains and
file counts are fixed by `SHAPE`, so two seeds give inputs of the same shape
and different content. The same seed gives byte-identical files.

    python3 perfbench/gen.py <out_dir> <seed> [table ...]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per table. Fixed, whatever the seed.
SHAPE = {
    "region": 5,
    "nation": 25,
    "customer": 3000,
    "supplier": 200,
    "part": 4000,
    "orders": 30000,
    "lineitem": 120000,
    "events": 20000,
    "documents": 1800,
    "embeddings": 1000,
}
ARRIVALS = 3  # micro-batches the documents arrive in

TABLES = list(SHAPE)
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
N_SOURCES = 20
DUP_FRAC = 0.05  # documents that copy another document's text + " dup"
EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
DAY_US = 86_400_000_000


def _rng(seed, table):
    return np.random.default_rng([seed, TABLES.index(table)])


def _money(rng, lo, hi, n):
    """Two-decimal doubles uniform on [lo, hi]."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _days(rng, n, span_days):
    return EPOCH_1995 + rng.integers(0, span_days, n) * np.timedelta64(1, "D")


def region(rng, n):
    names = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    return pa.table({"r_regionkey": pa.array(range(n), pa.int32()),
                     "r_name": names[:n]})


def nation(rng, n):
    return pa.table({"n_nationkey": pa.array(range(n), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(n)],
                     "n_regionkey": pa.array([i % 5 for i in range(n)], pa.int32())})


def customer(rng, n):
    return pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n)})


def supplier(rng, n):
    return pa.table({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n)})


def part(rng, n):
    adj = ["blue", "old", "large", "hot", "cold", "small", "new", "red"]
    noun = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
    names = np.char.add(np.char.add(np.array(adj)[rng.integers(0, 8, n)], " "),
                        np.array(noun)[rng.integers(0, 8, n)])
    return pa.table({
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": pa.array(names.astype(object)),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n),
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) / 10.0, 1)})


def orders(rng, n):
    return pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, SHAPE["customer"], n),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _days(rng, n, 2404),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n)})


def lineitem(rng, n):
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table({
        "l_orderkey": rng.integers(0, SHAPE["orders"], n),
        "l_partkey": rng.integers(0, SHAPE["part"], n),
        "l_suppkey": rng.integers(0, SHAPE["supplier"], n),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _money(rng, 900.0, 2100.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _days(rng, n, 2499)})


def events(rng, n):
    ts = np.sort(EPOCH_2024 + rng.integers(0, 30 * DAY_US, n).astype("timedelta64[us]"))
    props = np.array([f'{{"k": {k}}}' for k in range(100)], dtype=object)
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, max(150, n // 66), n),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n),
        "value": np.round(rng.exponential(40.0, n), 2),
        "props": pa.array(props[rng.integers(0, 100, n)])})


def documents(rng, n):
    vocab = np.array(VOCAB, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))])
             for _ in range(n)]
    for i in np.flatnonzero(rng.random(n) < DUP_FRAC):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": [f"src{i % N_SOURCES}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def embeddings(rng, n, dim=64, labels=10):
    label = rng.integers(0, labels, n)
    centers = rng.normal(0.0, 1.0, (labels, dim))
    x = rng.normal(0.0, 1.0, (n, dim)) + 0.5 * centers[label]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})


def arrivals(seed, n_docs):
    """doc_id -> arrival: a seeded permutation cut into equal batches."""
    rng = np.random.default_rng([seed, len(TABLES)])
    order = rng.permutation(n_docs)
    arrival = np.empty(n_docs, dtype=np.int64)
    arrival[order] = np.arange(n_docs) * ARRIVALS // n_docs
    return pa.table({"doc_id": np.arange(n_docs, dtype=np.int64),
                     "arrival": arrival})


def build(table, seed):
    rng = _rng(seed, table)
    t = globals()[table](rng, SHAPE[table])
    # the seed also permutes row order (files are read in stored order)
    return t.take(pa.array(rng.permutation(t.num_rows)))


def write(table_obj, path):
    pq.write_table(table_obj, path, compression="snappy",
                   row_group_size=1 << 22)


def generate(out_dir, seed, tables=TABLES):
    os.makedirs(out_dir, exist_ok=True)
    for t in tables:
        write(build(t, seed), os.path.join(out_dir, f"{t}.parquet"))
    if "documents" in tables:
        docs = build("documents", seed)
        arr = arrivals(seed, SHAPE["documents"])
        write(arr, os.path.join(out_dir, "arrivals.parquet"))
        os.makedirs(os.path.join(out_dir, "arrivals"), exist_ok=True)
        of_doc = arr.column("arrival").to_numpy()[docs.column("doc_id").to_numpy()]
        for k in range(ARRIVALS):
            write(docs.filter(pa.array(of_doc == k)),
                  os.path.join(out_dir, "arrivals", f"{k}.parquet"))


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3:] or TABLES)
