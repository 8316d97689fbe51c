"""Seeded input generators for the graft benchmark.

Every table has the schema of graft's TPC-H-shaped test tables (see
Engine.tableNames); sizes follow the scale factor `sf` the same way
(lineitem ~6M*sf rows). Everything is drawn from one numpy Generator, so
a seed fixes the files byte for byte.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("key agg row scan slow fast table value part hash a merge batch "
         "spark the line sort window order data column join small customer "
         "query stream group filter big vector").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PNAMES = ["small ring", "red widget", "blue bolt", "green gear", "steel pin",
          "brass nut", "long rod", "tiny cog"]
EPOCH_1995 = np.datetime64("1995-01-01", "us")
DAY_US = 86_400_000_000


def _write(path, cols):
    pq.write_table(pa.table(cols), path, row_group_size=1 << 30)


def _days(x):
    return EPOCH_1995 + x.astype("int64") * DAY_US


def tpch(out, sf, rng):
    """region..lineitem at scale factor `sf` into directory `out`."""
    os.makedirs(out, exist_ok=True)
    _write(f"{out}/region.parquet", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(f"{out}/nation.parquet", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc, ns, np_, no = (int(150_000 * sf), int(10_000 * sf),
                       int(200_000 * sf), int(1_500_000 * sf))
    _write(f"{out}/customer.parquet", {
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, nc), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)]})
    _write(f"{out}/supplier.parquet", {
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, ns), 2)})
    price = np.round(900 + (np.arange(np_) % 1000) * 0.1, 2)
    _write(f"{out}/part.parquet", {
        "p_partkey": pa.array(np.arange(np_), pa.int64()),
        "p_name": np.array(PNAMES)[rng.integers(0, len(PNAMES), np_)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
        "p_type": np.array(PTYPES)[rng.integers(0, len(PTYPES), np_)],
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": price})
    odate = rng.integers(0, 2405, no)  # 1995-01-01 .. 2001-08-02
    _write(f"{out}/orders.parquet", {
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, no), 2),
        "o_orderdate": pa.array(_days(odate), pa.timestamp("us")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)]})
    per = rng.integers(1, 8, no)  # 1..7 lines, ~4 per order
    nl = int(per.sum())
    okey = np.repeat(np.arange(no), per)
    starts = np.repeat(np.cumsum(per) - per, per)
    pkey = rng.integers(0, np_, nl)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    _write(f"{out}/lineitem.parquet", {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(pkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(np.arange(nl) - starts + 1, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[pkey], 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": pa.array(
            _days(np.repeat(odate, per) + rng.integers(1, 122, nl)),
            pa.timestamp("us"))})


def corpus(out, n_docs, n_vecs, n_events, rng):
    """documents (5% planted near-duplicates), unit-norm 64-d embeddings
    in 10 labelled clusters, and a month of events from n_events/66 users."""
    os.makedirs(out, exist_ok=True)
    words = np.array(WORDS)
    texts = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words),
                                                     int(rng.integers(8, 90)))]))
    _write(f"{out}/documents.parquet", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(["en", "en", "en", "de", "fr", "es", "zh"])[
            rng.integers(0, 7, n_docs)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    label = rng.integers(0, 10, n_vecs)
    centers = rng.normal(size=(10, 64))
    v = centers[label] + rng.normal(scale=1.5, size=(n_vecs, 64))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    _write(f"{out}/embeddings.parquet", {
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(v.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})
    month_us = 30 * DAY_US
    ts = np.sort(rng.integers(0, month_us, n_events))
    _write(f"{out}/events.parquet", {
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts,
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, n_events // 66), n_events),
                            pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup",
                                "view"])[rng.integers(0, 5, n_events)],
        "value": np.round(rng.uniform(0, 50, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})


def date_str(day):
    return str(dt.date(1995, 1, 1) + dt.timedelta(days=int(day)))
