"""Seeded input generator for the benchmark.

Writes graft's ten parquet tables (the TPC-H-shaped star schema plus
`events`, `documents` and `embeddings`) with the exact schemas the
program reads: int64/int32 keys, 2-decimal doubles, date-only and
microsecond timestamps (TIMESTAMP(MICROS), UTC wall clock), list<float>
embeddings.

Row *content* comes from a fixed generator seed, so every benchmark
seed sees the same logical tables and the same oracle answers. The
benchmark seed only decides the physical layout: the row order of every
table and, in the `split16` layout, which of 16 files each document and
embedding row lands in. That is what the program may not depend on.

Run alone: python3 perfbench/gen.py <outDir> <sf> <seed> <single|split16>
"""
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 42
SPLIT_FILES = 16
SPLIT_TABLES = ("documents", "embeddings")
WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
COLORS = "small red blue hot old large new cold".split()
NOUNS = "ring widget bolt gear gizmo plate anvil rod".split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
US = np.dtype("datetime64[us]")


def _dates(rng, n, lo, hi):
    days = (np.datetime64(hi) - np.datetime64(lo)).astype(int)
    return (np.datetime64(lo) + rng.integers(0, days + 1, n).astype("timedelta64[D]")).astype(US)


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf):
    """The logical tables at scale factor `sf`, as pyarrow Tables."""
    rng = np.random.default_rng(CONTENT_SEED)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(15, int(n_ev * 0.015))
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    out = {}
    out["region"] = pa.table({"r_regionkey": pa.array(range(5), i32),
                              "r_name": pa.array(REGIONS, s)})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99), f64),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust), s)})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99), f64)})
    pk = np.arange(n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(pk, i64),
        "p_name": pa.array([f"{COLORS[a]} {NOUNS[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))], s),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
        "p_type": pa.array(rng.choice(PTYPES, n_part), s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900 + (pk % 1000) / 10, 1), f64)})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), s),
        "o_totalprice": pa.array(_money(rng, n_ord, 1000, 500_000), f64),
        "o_orderdate": pa.array(_dates(rng, n_ord, "1995-01-01", "2001-08-01"), ts),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord), s)})
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(float), f64),
        "l_extendedprice": pa.array(_money(rng, n_line, 900, 105_000), f64),
        "l_discount": pa.array(np.round(rng.uniform(0, 0.10, n_line), 2), f64),
        "l_tax": pa.array(np.round(rng.uniform(0, 0.08, n_line), 2), f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line), s),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line), s),
        "l_shipdate": pa.array(_dates(rng, n_line, "1995-01-02", "2001-11-04"), ts)})
    # events: a sorted stream over 30 days with exponential gaps and
    # microsecond-resolution timestamps
    span_us = 30 * 86_400 * 1_000_000
    gaps = rng.exponential(span_us / (n_ev + 1), n_ev)
    t_us = np.minimum(np.cumsum(gaps), span_us - 1).astype(np.int64)
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(t0 + t_us.astype("timedelta64[us]"), ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev), s),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50, n_ev), 2)), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s)})
    # documents: word salad over a 30-word vocabulary; ~5% are a copy of
    # another document with " dup" appended (the near-duplicate signal)
    texts = [" ".join(rng.choice(WORDS, rng.integers(10, 101))) for _ in range(n_doc)]
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        j = int(rng.integers(0, n_doc))
        if j != i and not texts[j].endswith(" dup"):
            texts[i] = texts[j] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(rng.choice(LANGS, n_doc, p=LANG_P), s),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)], s),
        "n_chars": pa.array([len(t) for t in texts], i64)})
    # embeddings: 64-d unit vectors, weakly clustered by a 10-way label
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(size=(10, 64))
    v = (0.15 * centers[labels] + rng.normal(size=(n_emb, 64))).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})
    return out


def write(out_dir, sf, seed, layout):
    """Write the seeded layout to `out_dir`; returns the directory DuckDB
    should read (single files), which is `out_dir` itself unless split."""
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    oracle = os.path.join(tmp, "oracle")
    os.makedirs(oracle)
    rng = np.random.default_rng(seed)
    for name, t in tables(sf).items():
        t = t.take(rng.permutation(t.num_rows))
        if layout == "split16" and name in SPLIT_TABLES:
            pq.write_table(t, os.path.join(oracle, f"{name}.parquet"))
            d = os.path.join(tmp, f"{name}.parquet")
            os.makedirs(d)
            part = rng.integers(0, SPLIT_FILES, t.num_rows)
            for f in range(SPLIT_FILES):
                pq.write_table(t.filter(pa.array(part == f)),
                               os.path.join(d, f"part-{f:05d}.parquet"))
        else:
            pq.write_table(t, os.path.join(tmp, f"{name}.parquet"))
            os.link(os.path.join(tmp, f"{name}.parquet"), os.path.join(oracle, f"{name}.parquet"))
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)


if __name__ == "__main__":
    d, sf, seed, layout = sys.argv[1], float(sys.argv[2]), int(sys.argv[3]), sys.argv[4]
    write(d, sf, seed, layout)
