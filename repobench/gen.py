"""Seeded corpus generator: the test corpus's ten tables (TESTDATA.md), from a seed.

The engine reads a scale directory of one parquet file per table
(`region nation customer supplier part orders lineitem events documents
embeddings`). This module writes a directory of the same schema and value
distributions from a seed alone, so the benchmark needs no data outside its
checkout and the same seed always yields byte-identical inputs.

Row counts are fixed by `SHAPE`, not by the seed: seeds move values, never
sizes, so timings across seeds measure the same amount of work. A fixed
number of rows fail each lineitem cleaning rule and carry a null critical
event column (`PLANTED`); the seed only places them.
"""

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Table sizes: the sf0.01 corpus's row counts (twice its events), with the
# lineitem ship dates over `ship_days` days, so the date-partitioned clean
# sink writes `ship_days` partitions per Pipeline.run (the sf0.1 corpus
# writes 2,499; README.md says why the benchmark writes fewer).
SHAPE = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "ship_days": 60,
    "events": 20000,
    "users": 1500,
    "documents": 500,
    "embeddings": 500,
}

# Planted bad rows per kind. Lineitem: a null in each column the `nulls`
# rule reads, a non-positive quantity or price, a discount outside [0, 1]
# (and one null discount, which that rule also removes). Events: a null in
# each critical column the clean store drops on. About 4.8% of prices
# exceed the 100000 cap without planting.
PLANTED = {
    "l_orderkey": 2, "l_quantity": 2, "l_extendedprice": 2, "l_shipdate": 2,
    "quantity": 5, "price_pos": 5, "discount": 5, "discount_null": 1,
    "ts": 3, "user_id": 3, "event_type": 3, "value": 3,
}

EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
EVENT_START = dt.datetime(2024, 1, 1)
EVENT_DAYS = 30
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
ADJ = ["hot", "old", "red", "small", "new", "large", "cold", "blue"]
NOUN = ["bolt", "plate", "gear", "ring", "rod", "anvil", "widget", "gizmo"]
P_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
DIM = 64


def _ts(base, offsets_us):
    start = np.datetime64(base, "us")
    return pa.array(start + offsets_us.astype("timedelta64[us]"), pa.timestamp("us"))


def _days(base, day_offsets):
    return _ts(base, day_offsets.astype(np.int64) * 86_400_000_000)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _plant(rng, n, kinds):
    """Distinct row indices per planted kind, drawn from the seed."""
    rows = rng.choice(n, sum(PLANTED[k] for k in kinds), replace=False)
    out, i = {}, 0
    for k in kinds:
        out[k] = rows[i:i + PLANTED[k]]
        i += PLANTED[k]
    return out


def _with_nulls(values, rows, typ):
    """`values` as a pyarrow array of `typ` with nulls at `rows`."""
    mask = np.zeros(len(values), bool)
    mask[rows] = True
    arr = values if isinstance(values, pa.Array) else pa.array(values, typ)
    return pc.if_else(pa.array(mask), pa.nulls(len(values), typ), arr)


def tables(seed, shape=SHAPE):
    """Every table as a pyarrow Table, drawn from one seeded generator."""
    rng = np.random.default_rng(seed)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    n = shape["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": rng.choice(SEGMENTS, n)})

    n = shape["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n)})

    n = shape["part"]
    keys = np.arange(n)
    out["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n), rng.integers(0, 8, n))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": rng.choice(P_TYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2)})

    n = shape["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, shape["customer"], n), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _days(dt.datetime(1995, 1, 1), rng.integers(0, shape["ship_days"], n)),
        "o_orderpriority": rng.choice(PRIORITIES, n)})

    n = shape["lineitem"]
    orderkey = rng.integers(0, shape["orders"], n)
    partkey = rng.integers(0, shape["part"], n)
    suppkey = rng.integers(0, shape["supplier"], n)
    linenumber = rng.integers(1, 8, n)
    quantity = rng.integers(1, 51, n).astype(np.float64)
    # ~4.8% of prices exceed the 100000 cap, as in the sf0.1 corpus
    price = _money(rng, 900.0, 105000.0, n)
    discount = np.round(rng.uniform(0.0, 0.1, n), 2)
    tax = np.round(rng.uniform(0.0, 0.08, n), 2)
    returnflag = rng.choice(["A", "N", "R"], n)
    linestatus = rng.choice(["O", "F"], n)
    shipdate = _days(dt.datetime(1995, 1, 2), rng.integers(0, shape["ship_days"], n))
    bad = _plant(rng, n, ["l_orderkey", "l_quantity", "l_extendedprice", "l_shipdate",
                          "quantity", "price_pos", "discount", "discount_null"])
    quantity[bad["quantity"]] = -rng.integers(0, 3, len(bad["quantity"]))
    price[bad["price_pos"]] = -_money(rng, 0.0, 50.0, len(bad["price_pos"]))
    discount[bad["discount"]] = rng.choice([-0.05, 1.5], len(bad["discount"]))
    out["lineitem"] = pa.table({
        "l_orderkey": _with_nulls(orderkey, bad["l_orderkey"], pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_suppkey": pa.array(suppkey, pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": _with_nulls(quantity, bad["l_quantity"], pa.float64()),
        "l_extendedprice": _with_nulls(price, bad["l_extendedprice"], pa.float64()),
        "l_discount": _with_nulls(discount, bad["discount_null"], pa.float64()),
        "l_tax": tax,
        "l_returnflag": returnflag,
        "l_linestatus": linestatus,
        "l_shipdate": _with_nulls(shipdate, bad["l_shipdate"], pa.timestamp("us"))})

    n = shape["events"]
    span_us = EVENT_DAYS * 86_400_000_000
    ts = _ts(EVENT_START, np.sort(rng.integers(0, span_us, n)))
    user = rng.integers(0, shape["users"], n)
    etype = rng.choice(EVENT_TYPES, n)
    value = np.round(rng.exponential(50.0, n), 2)
    props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]
    bad = _plant(rng, n, ["ts", "user_id", "event_type", "value"])
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": _with_nulls(ts, bad["ts"], pa.timestamp("us")),
        "user_id": _with_nulls(user, bad["user_id"], pa.int64()),
        "event_type": _with_nulls(etype, bad["event_type"], pa.string()),
        "value": _with_nulls(value, bad["value"], pa.float64()),
        "props": props})

    n = shape["documents"]
    texts = [" ".join(rng.choice(WORDS, rng.integers(10, 101))) for _ in range(n)]
    for i in range(n):
        if i % 20 == 11:          # planted near-duplicates: an earlier doc + a marker word
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
        elif i % 97 == 50:        # planted exact duplicates
            texts[i] = texts[int(rng.integers(0, i))]
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    n = shape["embeddings"]
    labels = rng.integers(0, 10, n)
    centroids = rng.normal(0.0, 0.02, (10, DIM))
    vecs = rng.normal(0.0, 1.0 / np.sqrt(DIM), (n, DIM)) + centroids[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out


def write(seed, out_dir, shape=SHAPE):
    """Write the seeded corpus under `out_dir` (one `<table>.parquet` each)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, shape).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
