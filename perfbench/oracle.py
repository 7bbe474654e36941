"""Compares each batch query's result with its DuckDB oracle.

The canonical form and hash are those of the engine's oracle gate,
imported from tools/check_oracle.py: columns sorted by name, temporal
columns unified to datetime64[ns], rows sorted by every column, then
pandas.util.hash_pandas_object summed over rows.
"""
import glob
import json
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, "tools")
from check_oracle import TABLES, canon, table_hash  # noqa: E402


def check(data_dir, work_dir, queries):
    """{query: (ok, note)} for every query; a query without oracle SQL
    must still produce a readable, sortable result."""
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    with open(os.path.join(work_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    out = {}
    for name in queries:
        files = sorted(glob.glob(os.path.join(work_dir, "results", name, "*.parquet")))
        if not files:
            out[name] = (False, "no result")
            continue
        try:
            spark_df = canon(pd.concat([pd.read_parquet(f) for f in files], ignore_index=True))
            if name not in oracle:
                out[name] = (True, f"rows only ({len(spark_df)})")
                continue
            duck_df = canon(con.execute(oracle[name]).fetchdf())
        except Exception as e:  # a crash in either engine is a failed check
            out[name] = (False, f"{type(e).__name__}: {str(e)[:160]}")
            continue
        if list(spark_df.columns) != list(duck_df.columns):
            out[name] = (False, f"columns {list(spark_df.columns)} vs {list(duck_df.columns)}")
        elif len(spark_df) != len(duck_df):
            out[name] = (False, f"rows {len(spark_df)} vs {len(duck_df)}")
        elif table_hash(spark_df) != table_hash(duck_df):
            out[name] = (False, "hash mismatch")
        else:
            out[name] = (True, f"{len(spark_df)} rows")
    return out
