"""DuckDB oracle comparison for the catalog workload.

Registers each parquet table of the generated scale-factor directory as
a DuckDB view, runs every query's oracle SQL, reads the Spark result the
JVM wrote for that query, sorts columns by name and rows by all columns,
and compares exactly (floats too). This is the rule the repository's
oracle gate applies to `SparkEntry.oracleSql`.
"""
import glob
import json
import pathlib

import duckdb
import numpy as np
import pandas as pd


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df) and len(df.columns):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
    return df.reset_index(drop=True)


def _diff(exp: pd.DataFrame, got: pd.DataFrame) -> str:
    if list(exp.columns) != list(got.columns):
        return f"columns exp={list(exp.columns)} got={list(got.columns)}"
    if len(exp) != len(got):
        return f"rows exp={len(exp)} got={len(got)}"
    for c in exp.columns:
        e, g = exp[c], got[c]
        if e.dtype != g.dtype:
            return f"{c}: dtype exp={e.dtype} got={g.dtype}"
        eq = (e == g) | (e.isna() & g.isna())
        if not eq.all():
            i = int(np.argmax(~eq.values))
            return f"{c}: {int((~eq).sum())} diffs, first at row {i}: exp={e.iloc[i]!r} got={g.iloc[i]!r}"
    return ""


def compare(data_dir: str, out_dir: str) -> list:
    """Return one (query, error) pair per failed query; empty means all match."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for p in glob.glob(f"{data_dir}/*.parquet"):
        src = f"{p}/*.parquet" if pathlib.Path(p).is_dir() else p
        con.execute(f"CREATE VIEW {pathlib.Path(p).stem} AS SELECT * FROM '{src}'")
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracle = json.load(f)
    failures = []
    for name in sorted(oracle):
        try:
            exp = _canon(con.sql(oracle[name]).df())
            got = _canon(con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df())
            err = _diff(exp, got)
        except Exception as e:  # a missing result or an SQL error fails the check
            err = f"{type(e).__name__}: {e}"
        if err:
            failures.append((name, err))
    con.close()
    return failures
