#!/usr/bin/env python3
"""Deterministic benchmark tables and stream chunks.

The tables follow the layout graft's registry reads (see
src/main/scala/graft/sources/Tables.scala): a TPC-H-ish star schema at
scale factor 0.1, an `events` table of 100,000 in-order events, a
`documents` corpus with planted near duplicates and 64-dimensional
clustered `embeddings`. Every value comes from one fixed numpy seed,
so the tables are the same on every machine and every run; the
workload seed only permutes key order and shifts stream chunk
boundaries (`write_chunks`).

Usage: python3 perfbench/gen_data.py <out_dir>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240101
SF = 0.1
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
TICK_USER = 1_000_000


def _day_ts(start, n_days, rng, size):
    base = np.datetime64(start, "us")
    return base + rng.randint(0, n_days, size).astype("timedelta64[D]")


def _money(rng, lo, hi, size):
    return np.round(rng.uniform(lo, hi, size), 2)


def build_tables(rng):
    n_cust, n_supp = int(150_000 * SF), int(10_000 * SF)
    n_part, n_ord = int(200_000 * SF), int(1_500_000 * SF)
    n_line = int(6_000_000 * SF)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segments = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                "MACHINERY"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.randint(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(segments)[rng.randint(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.randint(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adj = ["large", "hot", "blue", "small", "red", "cold", "green", "steel"]
    noun = ["ring", "bolt", "nut", "gear", "pipe", "valve", "screw", "spring"]
    types = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
    keys = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": keys,
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.randint(0, 8, n_part), rng.randint(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.randint(1, 26, n_part)],
        "p_type": np.array(types)[rng.randint(0, 6, n_part)],
        "p_size": rng.randint(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2)})
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.randint(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.randint(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _day_ts("1995-01-01", 2404, rng, n_ord),
        "o_orderpriority": np.array(prios)[rng.randint(0, 5, n_ord)]})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.randint(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.randint(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.randint(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.randint(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.randint(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": np.round(rng.randint(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.randint(0, 9, n_line) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.randint(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.randint(0, 2, n_line)],
        "l_shipdate": _day_ts("1995-01-02", 2498, rng, n_line)})
    t["events"] = build_events(rng)
    t["documents"] = build_documents(rng)
    t["embeddings"] = build_embeddings(rng)
    return t


def build_events(rng, n=100_000):
    # exponential gaps (mean 25.9 s) spread 100k events over ~30 days;
    # event_id order is ts order, so a replay in event_id order is an
    # in-order stream
    gaps_us = np.floor(rng.exponential(25.9e6, n)).astype(np.int64) + 1
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps_us).astype(
        "timedelta64[us]")
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts,
        "user_id": rng.randint(0, 1500, n).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.randint(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.randint(0, 100, n)]})


def build_documents(rng, n=5000):
    vocab = ("a the spark stream batch window join key value row column "
             "table query scan filter sort hash group agg merge order part "
             "line data vector customer small big fast slow sum").split()
    texts = [" ".join(np.array(vocab)[rng.randint(0, len(vocab),
                                                  rng.randint(10, 101))])
             for _ in range(n)]
    # planted duplicates: 8 exact copies and 225 near copies (one token
    # appended) of earlier documents, for the dedup families
    for i in rng.choice(np.arange(1000, n), 233, replace=False):
        src = texts[rng.randint(0, 1000)]
        texts[i] = src if rng.randint(0, 29) == 0 else src + " dup"
    langs = np.array(["en", "es", "zh", "de", "fr"])[
        rng.choice(5, n, p=[0.4, 0.15, 0.15, 0.15, 0.15])]
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64)})


def build_embeddings(rng, n=2000, dim=64, k=10):
    centers = rng.normal(0.0, 1.0, (k, dim))
    labels = rng.randint(0, k, n)
    v = centers[labels] + rng.normal(0.0, 0.9, (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})


def write_tables(out_dir):
    os.makedirs(out_dir, exist_ok=True)
    tables = build_tables(np.random.RandomState(DATA_SEED))
    for name in TABLES:
        pq.write_table(tables[name], os.path.join(out_dir,
                                                  f"{name}.parquet"))


def tick_event(event_id, ts):
    """One event far past the last real one: it advances the
    watermark beyond every pending state timeout, so the no-data batch
    after the last chunk flushes all state and the replay's final
    output is complete. Its user and type match no operator's filter;
    the reference run ends with the same tick."""
    return pa.table({
        "event_id": pa.array([event_id], pa.int64()),
        "ts": pa.array([ts], pa.timestamp("us")),
        "user_id": pa.array([TICK_USER], pa.int64()),
        "event_type": ["tick"],
        "value": [0.0],
        "props": ['{"k": 0}']})


def write_chunks(events_path, out_dir, chunk_rows, shift):
    """Cut the events table in event_id order into ceil(rows /
    chunk_rows) chunk files `<out_dir>/chunk=NNNNN/events.parquet`,
    the last one ending with the tick (the file source only looks into
    partition-style directories). Boundaries sit at shift + k *
    chunk_rows, so different seeds split the same stream differently
    while the number of triggers stays the same. File mtimes increase
    with the chunk index: the file source orders files by mtime."""
    ev = pq.read_table(events_path).sort_by("event_id")
    n = ev.num_rows
    k = -(-n // chunk_rows)
    assert 0 <= shift < chunk_rows and (k == 1 or shift + (k - 1) * chunk_rows < n)
    bounds = [0] + [shift + i * chunk_rows for i in range(1, k)] + [n]
    pieces = [ev.slice(a, b - a) for a, b in zip(bounds, bounds[1:])]
    last_ts = ev.column("ts")[n - 1].value
    tick = tick_event(n, last_ts + 10 * 86400 * 1_000_000).cast(ev.schema)
    pieces[-1] = pa.concat_tables([pieces[-1], tick])
    os.makedirs(out_dir, exist_ok=True)
    base = 1_700_000_000
    for i, piece in enumerate(pieces):
        d = os.path.join(out_dir, f"chunk={i:05d}")
        os.makedirs(d, exist_ok=True)
        p = os.path.join(d, "events.parquet")
        pq.write_table(piece, p)
        os.utime(p, (base + i, base + i))
    return len(pieces)


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    write_tables(sys.argv[1])
