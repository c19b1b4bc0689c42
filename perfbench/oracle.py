"""Check query results against their DuckDB oracles.

Each Spark result (a parquet directory) and the DuckDB result of the
query's oracle SQL over the same tables are canonicalised the same way:
columns sorted by name, every value rendered with pandas' str(), rows
sorted. The two match when the sha256 of those rows and the row counts
are equal.
"""
import glob
import hashlib
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df):
    s = df[sorted(df.columns)].astype(str)
    rows = sorted(s.itertuples(index=False, name=None))
    return hashlib.sha256(str(rows).encode()).hexdigest(), len(rows)


def read_result(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no parquet files under {path}")
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def compare(con, sql, result_dir):
    """(ok, detail) for one query."""
    try:
        got = canon(read_result(result_dir))
    except Exception as e:  # a missing or unreadable result is a failure
        return False, f"spark result unreadable: {e}"
    want = canon(con.execute(sql).fetchdf())
    if got == want:
        return True, f"rows={got[1]}"
    return False, f"mismatch: spark rows={got[1]} oracle rows={want[1]}"
