"""Correctness check for lake_mix: each query's Spark result against its DuckDB oracle
(`SparkEntry.oracleSql`) over the same parquet tables. Columns are compared sorted by
name, rows sorted, values exactly, the rule of the repository's own oracle gate."""
import glob
import os

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def _compare(spark_df, duck_df):
    import numpy as np
    a = spark_df.reindex(sorted(spark_df.columns), axis=1)
    b = duck_df.reindex(sorted(duck_df.columns), axis=1)
    if list(a.columns) != list(b.columns):
        return f"schema spark={list(a.columns)} duck={list(b.columns)}"
    if len(a) != len(b):
        return f"rows spark={len(a)} duck={len(b)}"
    if len(a) == 0:
        return None
    a = a.sort_values(list(a.columns)).reset_index(drop=True)
    b = b.sort_values(list(b.columns)).reset_index(drop=True)
    for c in a.columns:
        av, bv = a[c], b[c]
        if av.dtype.kind == "f" or bv.dtype.kind == "f":
            same = np.array_equal(av.astype(float).to_numpy(), bv.astype(float).to_numpy(),
                                  equal_nan=True)
        else:
            same = bool((av.astype(str) == bv.astype(str)).all())
        if not same:
            i = int((av.astype(str) != bv.astype(str)).to_numpy().argmax())
            return f"value {c}[{i}] spark={a[c][i]!r} duck={b[c][i]!r}"
    return None


def check(data_dir, out_dir, oracle_sql, names):
    """{query: None when the result matches its oracle, else the first difference}."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data_dir, t)}.parquet'")
    results = {}
    for name in names:
        qdir = os.path.join(out_dir, name)
        if name not in oracle_sql:
            results[name] = "no oracle"
        elif not glob.glob(os.path.join(qdir, "*.parquet")):
            results[name] = "no result written"
        else:
            try:
                results[name] = _compare(pd.read_parquet(qdir), con.execute(oracle_sql[name]).df())
            except Exception as e:  # a failing oracle or unreadable result is a failure
                results[name] = f"error {str(e)[:200]}"
    con.close()
    return results
