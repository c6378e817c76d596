"""Seeded input generator for the benchmark.

Writes the ten source tables graft reads (`graft.sources.Tables.All`) as one
parquet file each, with the schema, value domains and distributions of the
project's synthetic star-schema test data: TPC-H-like relational tables, an
`events` stream, a `documents` corpus with near-duplicates and unit-norm
`embeddings`. Everything is drawn from `numpy.random.default_rng(seed)`, so
the same (seed, sf) always gives the same tables, and a new seed gives
new values over the same domains (categorical domains such as `event_type`
are never widened or narrowed, so the grid guards of the wide-unroll queries
never fire).
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
ADJ = "blue cold hot large new old red small".split()
NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]


def sizes(sf):
    """Row counts per table at scale factor `sf` (sf0.1 = 600k lineitem)."""
    n = lambda base: max(1, int(round(base * sf)))
    return {
        "customer": n(150_000), "supplier": n(10_000), "part": n(200_000),
        "orders": n(1_500_000), "lineitem": n(6_000_000),
        "events": n(1_000_000), "users": n(15_000),
        "documents": max(500, n(50_000)), "embeddings": max(500, n(20_000)),
    }


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    d = rng.integers(0, (hi - lo).astype(int) + 1, n)
    return (lo + d).astype("datetime64[us]")


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _keys(n):
    return np.arange(n, dtype=np.int64)


def tables(seed, sf):
    """Yield (name, pyarrow.Table) for every source table."""
    rng = np.random.default_rng(seed)
    z = sizes(sf)
    i32 = lambda a: pa.array(a, pa.int32())
    yield "region", pa.table({"r_regionkey": i32(np.arange(5)),
                              "r_name": REGIONS})
    yield "nation", pa.table({"n_nationkey": i32(np.arange(25)),
                              "n_name": [f"NATION_{i}" for i in range(25)],
                              "n_regionkey": i32(np.arange(25) % 5)})
    c = z["customer"]
    yield "customer", pa.table({
        "c_custkey": _keys(c),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": i32(rng.integers(0, 25, c)),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": _pick(rng, SEGMENTS, c)})
    s = z["supplier"]
    yield "supplier", pa.table({
        "s_suppkey": _keys(s),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": i32(rng.integers(0, 25, s)),
        "s_acctbal": _money(rng, -999.99, 9999.99, s)})
    p = z["part"]
    yield "part", pa.table({
        "p_partkey": _keys(p),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, p), rng.integers(0, 8, p))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
        "p_type": _pick(rng, PTYPES, p),
        "p_size": i32(rng.integers(1, 51, p)),
        "p_retailprice": np.round(900 + (np.arange(p) % 1000) / 10, 1)})
    o = z["orders"]
    yield "orders", pa.table({
        "o_orderkey": _keys(o),
        "o_custkey": rng.integers(0, c, o),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], o),
        "o_totalprice": _money(rng, 1000, 500_000, o),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", o),
        "o_orderpriority": _pick(rng, PRIORITIES, o)})
    n = z["lineitem"]
    yield "lineitem", pa.table({
        "l_orderkey": rng.integers(0, o, n),
        "l_partkey": rng.integers(0, p, n),
        "l_suppkey": rng.integers(0, s, n),
        "l_linenumber": i32(rng.integers(1, 8, n)),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n),
        "l_discount": np.round(rng.uniform(0, 0.1, n), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n), 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n)})
    e = z["events"]
    month_us = 30 * 86_400 * 10**6
    ts = np.sort(rng.integers(0, month_us, e))
    yield "events", pa.table({
        "event_id": _keys(e),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, z["users"], e),
        "event_type": _pick(rng, EVENT_TYPES, e),
        # At least one cent, like the sf0.01 test data: a 0.00 value makes
        # eod_portfolio_weighted's DuckDB oracle raise on log(0).
        "value": np.maximum(np.round(rng.exponential(50.0, e), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    d = z["documents"]
    words = np.asarray(WORDS, dtype=object)
    text = [" ".join(words[rng.integers(0, len(WORDS), k)])
            for k in rng.integers(10, 101, d)]
    # ~5% near-duplicates (an earlier document plus one token) and a few
    # exact copies, so the dedup and similarity operators have work to find.
    for i in rng.choice(np.arange(1, d), d // 20, replace=False):
        text[i] = text[rng.integers(0, i)] + " dup"
    for i in rng.choice(np.arange(1, d), max(1, d // 600), replace=False):
        text[i] = text[rng.integers(0, i)]
    yield "documents", pa.table({
        "doc_id": _keys(d), "text": text,
        "lang": _pick(rng, LANGS, d, LANG_P),
        "source": [f"src{k}" for k in rng.integers(0, 20, d)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64)})
    m = z["embeddings"]
    v = rng.standard_normal((m, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    yield "embeddings", pa.table({
        "vec_id": _keys(m),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, m))})


def write(out_dir, seed, sf):
    """Write every table to `out_dir/<name>.parquet`; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, t in tables(seed, sf):
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows
    return rows
