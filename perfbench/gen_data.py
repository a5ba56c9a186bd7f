#!/usr/bin/env python3
"""Seeded generator for the benchmark's input tables.

Two kinds of input are written as uncompressed single-row-group parquet
files (the layout `graft.Tables` is tuned for):

- ``suite``: the TPC-H-ish star schema plus ``events`` and
  ``documents`` that ``SparkEntry.queries`` read, with the same value
  grids as the project's test data (0.01 money grid, 50-value quantity
  grid, a 31-word document vocabulary with planted duplicates).
- ``bulk``: the ``pipe_bulk`` input, 600k x scale ``lineitem`` rows of
  ``l_orderkey``, ``l_quantity``, ``l_returnflag`` plus a variable-length
  ``text`` column drawn from the document vocabulary. A share of the
  texts carries a tab, a newline or a backslash so TSV escaping is on
  the measured path.

The same (kind, scale, seed) always yields byte-identical files.

Usage: python3 perfbench/gen_data.py suite|bulk <scale> <seed> <outdir>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ["query", "row", "stream", "the", "spark", "line", "small", "fast",
         "group", "customer", "batch", "sort", "value", "hash", "filter",
         "big", "data", "dup", "part", "column", "order", "scan", "a",
         "slow", "agg", "key", "window", "table", "merge", "vector", "join"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
BULK_ROWS = 600_000


def _write(out, name, cols):
    table = pa.table(cols)
    # uncompressed: no codec buffers in the measured reads
    pq.write_table(table, os.path.join(out, f"{name}.parquet"),
                   row_group_size=max(1, table.num_rows), compression="none")


def _money(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _days(rng, start, n_days, n):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, n_days + 1, n)).astype("datetime64[us]")


def _texts(rng, n, min_words, max_words):
    words = np.array(VOCAB)
    lens = rng.integers(min_words, max_words + 1, n)
    picks = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, at = [], 0
    for k in lens:
        out.append(" ".join(words[picks[at:at + k]]))
        at += k
    return out


def gen_suite(scale, seed, out):
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * scale)
    n_supp = int(10_000 * scale)
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_li = int(6_000_000 * scale)
    n_ev = int(1_000_000 * scale)
    n_doc = int(50_000 * scale)
    n_user = max(100, int(15_000 * scale))

    _write(out, "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                           "r_name": REGIONS})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    keys = np.arange(n_part, dtype=np.int64)
    _write(out, "part", {
        "p_partkey": keys,
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1)})
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, "1995-01-02", 2498, n_li)})
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    _write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, n_user, n_ev),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = _texts(rng, n_doc, 10, 100)
    # plant exact and one-word-edit near duplicates for the dedup miners
    n_dup = max(2, n_doc // 500)
    src = rng.choice(n_doc, 2 * n_dup, replace=False)
    for i in range(n_dup):
        texts[src[2 * i + 1]] = texts[src[2 * i]]
    for i in range(n_dup):
        a, b = rng.choice(n_doc, 2, replace=False)
        ws = texts[a].split(" ")
        ws[int(rng.integers(0, len(ws)))] = "dup"
        texts[b] = " ".join(ws)
    _write(out, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, 5, n_doc)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def gen_bulk(scale, seed, out):
    rng = np.random.default_rng(seed)
    n = int(BULK_ROWS * scale)
    # rows draw their text from a seeded pool of 20k variable-length
    # texts; TSV escaping is part of the encode path, so ~3% of the pool
    # carries a tab, a newline or a backslash
    pool = _texts(rng, 20_000, 2, 10)
    special = ["\t", "\n", "\\"]
    for i in np.flatnonzero(rng.random(len(pool)) < 0.03):
        t = pool[i]
        at = int(rng.integers(0, len(t) + 1))
        pool[i] = t[:at] + special[int(rng.integers(0, 3))] + t[at:]
    _write(out, "bulk", {
        "l_orderkey": rng.integers(0, 150_000, n),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "text": np.array(pool, dtype=object)[rng.integers(0, len(pool), n)]})


def main(argv):
    if len(argv) != 5 or argv[1] not in ("suite", "bulk"):
        sys.exit(__doc__)
    kind, scale, seed, out = argv[1], float(argv[2]), int(argv[3]), argv[4]
    tmp = out + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    (gen_suite if kind == "suite" else gen_bulk)(scale, seed, tmp)
    os.replace(tmp, out)


if __name__ == "__main__":
    main(sys.argv)
