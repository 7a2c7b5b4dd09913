"""Checks query-key results against their DuckDB oracle SQL with the
comparison of the repo's correctness gate (`tools/check.py`, a script that
runs on import): columns sorted by name, rows sorted, dtypes normalised,
floats compared exactly.
"""
import glob
import json
import os

import duckdb
import pandas as pd


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            if getattr(df[c].dtype, "tz", None) is not None:
                df[c] = df[c].dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = df[c].astype("datetime64[ns]")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype("bool")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def _compare(s, d):
    if list(s.columns) != list(d.columns):
        return f"columns differ: {list(s.columns)} vs {list(d.columns)}"
    if len(s) != len(d):
        return f"row count {len(s)} vs oracle {len(d)}"
    for c in s.columns:
        a, b = s[c], d[c]
        if pd.api.types.is_float_dtype(a):
            eq = (a.isna() & b.isna()) | (a == b)
        else:
            eq = (a.isna() & b.isna()) | (a.astype(str) == b.astype(str))
        if not eq.all():
            i = (~eq).idxmax()
            return f"column {c} row {i}: {a[i]!r} vs oracle {b[i]!r}"
    return None


def check(tables_dir, results_dir, keys):
    """{key: None if the result matches its oracle, else the reason}."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for p in glob.glob(os.path.join(tables_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{src}'")
    with open(os.path.join(results_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    out = {}
    for k in keys:
        res = os.path.join(results_dir, k)
        if k not in oracle:
            out[k] = "no oracle SQL for this key"
            continue
        if not glob.glob(os.path.join(res, "*.parquet")):
            out[k] = "no result written"
            continue
        try:
            got = con.execute(f"SELECT * FROM '{res}/*.parquet'").fetchdf()
            want = con.execute(oracle[k]).fetchdf()
            out[k] = _compare(_canon(got), _canon(want))
        except Exception as e:  # a failing oracle or unreadable result is a failed check
            out[k] = f"error: {e}"
    con.close()
    return out
