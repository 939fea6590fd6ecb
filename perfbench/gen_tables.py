"""Deterministic generator for the engine's input tables.

Writes the ten parquet tables every registered query reads (region,
nation, customer, supplier, part, orders, lineitem, events, documents,
embeddings) at a scale factor, from a seed, in the layout the queries
expect: one `<table>.parquet` file per table, one row group, snappy,
microsecond timestamps without a zone.

It reproduces the project's reference test tables (TPC-H-shaped star
schema plus an event stream, a text corpus with planted near-duplicates,
and unit-norm 64-d embeddings): the same values row for row, except
`documents.lang` and the `embeddings` columns, which follow the same
distributions with other draws, and a few `events.ts` values 1 µs off.
Row counts per scale factor:

    sf      customer supplier part   orders  lineitem events documents embeddings
    0.001   150      10       200    1500    6000     1000   500       500
    0.1     15000    1000     20000  150000  600000   100000 5000      2000

perfbench/run.py calls `write` and caches the result under .bench_build/.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("the a spark query table join group filter window data order "
         "customer part line fast slow big small hash sort merge scan agg "
         "stream batch vector key value row column").split()
ADJ = "red blue small large hot cold old new".split()
NOUN = "anvil widget gizmo bolt gear plate rod ring".split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
P_TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
DUP_SHARE = 0.05  # documents that copy an earlier document's text


def sizes(sf):
    n = lambda base: max(1, int(round(base * sf)))
    return {
        "customer": n(150_000), "supplier": n(10_000), "part": n(200_000),
        "orders": n(1_500_000), "lineitem": n(6_000_000),
        "events": n(1_000_000), "users": n(15_000),
        "documents": max(500, n(50_000)), "embeddings": max(500, n(20_000)),
    }


def days(rng, first, last, n):
    """n timestamps at midnight, uniform over [first, last] (ISO dates)."""
    lo = np.datetime64(first, "D")
    span = int((np.datetime64(last, "D") - lo).astype(int)) + 1
    return (lo + rng.integers(0, span, n)).astype("datetime64[us]")


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def tables(sf, seed):
    rng = np.random.default_rng(seed)
    s = sizes(sf)
    out = {}
    out["region"] = {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS}
    out["nation"] = {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}

    n = s["customer"]
    out["customer"] = {
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": money(rng, -999.99, 9999.99, n),
        "c_mktsegment": pick(rng, SEGMENTS, n)}

    n = s["supplier"]
    out["supplier"] = {
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": money(rng, -999.99, 9999.99, n)}

    n = s["part"]
    keys = np.arange(n, dtype=np.int64)
    out["part"] = {
        "p_partkey": keys,
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n), rng.integers(0, 8, n))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": pick(rng, P_TYPES, n),
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1)}

    n = s["orders"]
    out["orders"] = {
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, s["customer"], n),
        "o_orderstatus": pick(rng, ["O", "F", "P"], n),
        "o_totalprice": money(rng, 1000.0, 500000.0, n),
        "o_orderdate": days(rng, "1995-01-01", "2001-08-01", n),
        "o_orderpriority": pick(rng, PRIORITIES, n)}

    n = s["lineitem"]
    out["lineitem"] = {
        "l_orderkey": rng.integers(0, s["orders"], n),
        "l_partkey": rng.integers(0, s["part"], n),
        "l_suppkey": rng.integers(0, s["supplier"], n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 105000.0, n),
        "l_discount": money(rng, 0.0, 0.10, n),
        "l_tax": money(rng, 0.0, 0.08, n),
        "l_returnflag": pick(rng, ["R", "A", "N"], n),
        "l_linestatus": pick(rng, ["O", "F"], n),
        "l_shipdate": days(rng, "1995-01-02", "2001-11-04", n)}

    n = s["events"]
    month_us = 30 * 86400 * 10**6
    offsets = np.sort(rng.integers(0, month_us, n))
    out["events"] = {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + offsets.astype("timedelta64[us]"),
        "user_id": rng.integers(0, s["users"], n),
        "event_type": pick(rng, EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]}

    n = s["documents"]
    text = [" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), rng.integers(10, 100)))
            for _ in range(n)]
    # planted near-duplicates: a copy of another document plus " dup"
    dups = rng.choice(n, int(n * DUP_SHARE), replace=False)
    for i, j in zip(dups, rng.integers(0, n, len(dups))):
        text[i] = text[j] + " dup"
    out["documents"] = {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": text,
        "lang": pick(rng, LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64)}

    n = s["embeddings"]
    v = rng.standard_normal((n, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32)}
    return out


def write(out_dir, sf, seed):
    """Writes every table under out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in tables(sf, seed).items():
        table = pa.table(cols)
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path + ".tmp", compression="snappy",
                       row_group_size=max(1, table.num_rows))
        os.replace(path + ".tmp", path)
