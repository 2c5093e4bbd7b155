"""DuckDB oracle check of the benchmark's reference outputs.

Applies the comparison rules of tools/check.py, with its `canon`: the
Spark output and the query's registered oracle SQL, run in DuckDB over
the same corpus, must have the same column names, the same row count and
the same values once both are put in canonical row order.
"""
import glob
import os
import sys

import duckdb
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))
from check import canon  # noqa: E402  (tools/check.py)


def compare(got, want):
    """None when equal, else a one-line reason."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    g, w = canon(got), canon(want)
    for c in g.columns:
        gv, wv = g[c].astype(str), w[c].astype(str)
        if not (gv == wv).all():
            i = (gv != wv).idxmax()
            return f"value {c} row {i}: {g[c][i]!r} != {w[c][i]!r}"
    return None


def check(corpus_dir, out_dir, oracle_sql):
    """Map each query in oracle_sql to None (pass) or the failure reason."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for f in sorted(glob.glob(os.path.join(corpus_dir, "*.parquet"))):
        t = os.path.basename(f)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{f}'")
    res = {}
    for q, sql in oracle_sql.items():
        path = os.path.join(out_dir, q)
        if not glob.glob(os.path.join(path, "*.parquet")):
            res[q] = "missing Spark output"
            continue
        try:
            want = con.execute(sql).fetchdf()
        except Exception as e:  # a broken oracle fails the check, loudly
            res[q] = f"oracle error: {e}"
            continue
        res[q] = compare(pq.read_table(path).to_pandas(), want)
    return res
