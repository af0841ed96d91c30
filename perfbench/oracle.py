"""DuckDB oracle check: each query's Spark output against its frozen
`oracleSql`, run by DuckDB over the same parquet tables.

Canonicalization is the repository's correctness gate's (tools/check.py):
columns sorted by name, rows sorted over all columns, dtypes equal, then
exact cell equality (NaN equals NaN).
"""
import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq


def canon(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def cell_eq(a, b):
    if a is None or b is None or a is pd.NA or b is pd.NA:
        return (a is None or a is pd.NA) and (b is None or b is pd.NA)
    fa, fb = isinstance(a, (float, np.floating)), isinstance(b, (float, np.floating))
    if fa or fb:
        return fa and fb and ((np.isnan(a) and np.isnan(b)) or a == b)
    return a == b


def mismatch(spark_df, duck_df):
    """None when the two results are equal, else the first difference."""
    if sorted(spark_df.columns) != sorted(duck_df.columns):
        return f"columns spark={sorted(spark_df.columns)} duckdb={sorted(duck_df.columns)}"
    if len(spark_df) != len(duck_df):
        return f"rows spark={len(spark_df)} duckdb={len(duck_df)}"
    s, d = canon(spark_df), canon(duck_df)
    bad = {c: (str(s[c].dtype), str(d[c].dtype)) for c in s.columns if s[c].dtype != d[c].dtype}
    if bad:
        return f"dtypes differ: {bad}"
    for i, (sr, dr) in enumerate(zip(s.itertuples(index=False, name=None),
                                     d.itertuples(index=False, name=None))):
        if not all(cell_eq(a, b) for a, b in zip(sr, dr)):
            return f"row {i} differs: spark={sr} duckdb={dr}"
    return None


def check(work, data_dir, names, sql, threads):
    """Compare every query in `names` that produced output against its
    oracle SQL in `sql`; return {query: reason} for the mismatches (a
    query whose output is missing has already failed in the harness)."""
    import duckdb

    con = duckdb.connect(config={"threads": threads,
                                 "temp_directory": os.path.join(work, "duckdb_tmp")})
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"'{os.path.join(data_dir, f)}'")
    failures = {}
    for name in names:
        out = os.path.join(work, "oracle_out", name)
        if not os.path.isdir(out):
            continue
        if name not in sql:
            failures[name] = "no oracle SQL registered"
            continue
        try:
            reason = mismatch(pq.read_table(out).to_pandas(), con.execute(sql[name]).df())
        except Exception as e:  # an oracle that cannot run is a failed check
            reason = f"{type(e).__name__}: {e}"
        if reason:
            failures[name] = reason
    con.close()
    return failures
