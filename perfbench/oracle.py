"""Query results against DuckDB on the same parquet, with the engine's
oracle comparator rules (`tools/oracle_check.py`): columns compared by
name, rows as a sorted multiset, floats rounded to 6 decimals, and the
comparator's knife-edge fallback when that strict comparison fails.
"""
import glob
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))
from oracle_check import tol_equal  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events"]


def _norm(df):
    df = df.copy()
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c].round(6)
        df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def compare(results_dir, data_dir, oracle_sql):
    """{query: (ok, rows, detail)} for every query in `oracle_sql`."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
    out = {}
    for name, sql in sorted(oracle_sql.items()):
        files = glob.glob(os.path.join(results_dir, name, "*.parquet"))
        if not files:
            out[name] = (False, 0, "no result written")
            continue
        spark = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        if sql is None:
            out[name] = (False, len(spark), "no oracle SQL registered")
            continue
        try:
            duck = con.execute(sql).df()
        except Exception as e:  # an oracle that cannot run is a failed check
            out[name] = (False, len(spark), f"oracle error: {e}")
            continue
        if sorted(spark.columns) != sorted(duck.columns):
            out[name] = (False, len(spark), "column names differ")
            continue
        cols = sorted(spark.columns)
        s, d = spark[cols], duck[cols]
        if len(s) != len(d):
            out[name] = (False, len(s), f"rows {len(s)} vs oracle {len(d)}")
        elif _norm(s).equals(_norm(d)) or tol_equal(s, d) is not None:
            out[name] = (True, len(s), "")
        else:
            out[name] = (False, len(s), "values differ")
    con.close()
    return out
