"""DuckDB oracle check for the benchmark's query outputs.

Each query the benchmark times is dumped (in the first warm-up pass) to
`<out_dir>/<name>/*.parquet`, and its `SparkEntry.oracleSql` text to
`<out_dir>/oracle_sql.json`. This module runs every oracle over the same
generated inputs in DuckDB and compares the two sides with the rules of the
project's own oracle gate (`tools/check_oracle.py`): columns sorted by name,
rows sorted, equal row counts, no int-vs-float column pairs, and bit-exact
floats (so -0.0 and +0.0 differ).
"""
import glob
import json
import os

import duckdb
import pandas as pd

from gen import TABLES


def canon(df):
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), kind="mergesort",
                        na_position="first")
    return df.reset_index(drop=True)


def compare(spark, duck):
    """Return None when the outputs match, else a one-line reason."""
    a, b = canon(spark), canon(duck)
    if list(a.columns) != list(b.columns):
        return f"schema spark={list(a.columns)} duck={list(b.columns)}"
    if len(a) != len(b):
        return f"rows spark={len(a)} duck={len(b)}"
    for c in a.columns:
        av, bv = a[c], b[c]
        kinds = {av.dtype.kind, bv.dtype.kind}
        if kinds in ({"i", "f"}, {"u", "f"}):
            return f"dtype {c}: {av.dtype} vs {bv.dtype}"
        if "f" in kinds:
            ab = av.astype("float64").to_numpy().view("int64")
            bb = bv.astype("float64").to_numpy().view("int64")
            eq = (av.isna() & bv.isna()).to_numpy() | (ab == bb)
        else:
            eq = ((av.isna() & bv.isna())
                  | (av.astype(object) == bv.astype(object))).to_numpy()
        if not eq.all():
            i = int((~eq).argmax())
            return (f"value {c} row {i}: spark={av[i]!r} duck={bv[i]!r} "
                    f"({int((~eq).sum())} diffs)")
    return None


def check(data_dir, out_dir, names):
    """Check each of `names`; return {name: None | reason}."""
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    result = {}
    for name in names:
        files = sorted(glob.glob(os.path.join(out_dir, name, "*.parquet")))
        if not files:
            result[name] = "no spark output"
            continue
        try:
            duck = con.execute(oracle[name]).fetchdf()
        except Exception as e:  # an oracle that cannot run checks nothing
            result[name] = f"oracle error: {e}"
            continue
        spark = pd.concat([pd.read_parquet(f) for f in files])
        result[name] = compare(spark, duck)
    con.close()
    return result
