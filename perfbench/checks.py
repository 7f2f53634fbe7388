"""Output checks against DuckDB oracles.

The oracle SQL of each checked query comes from the program's own query
definitions (written out by perfbench.Prepare); DuckDB runs it on the same
parquet tables the program read. Seed-independent oracle results are
computed once per checkout and cached as parquet.
"""
import glob
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def connect(tables_dir, tmp_dir, threads):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET memory_limit='3GB'")
    con.execute(f"SET threads={threads}")
    con.execute(f"SET temp_directory='{tmp_dir}'")
    for t in TABLES:
        path = f"{tables_dir}/{t}.parquet"
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        elif not os.path.exists(path):
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def oracle_to_parquet(con, sql, out_file):
    tmp = out_file + ".tmp"
    con.execute(f"COPY ({sql}) TO '{tmp}' (FORMAT PARQUET)")
    os.replace(tmp, out_file)


def read(path):
    """A parquet file or a directory of parquet parts as one frame."""
    if os.path.isdir(path):
        files = sorted(glob.glob(f"{path}/*.parquet"))
        if not files:
            return None
        return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
    return pd.read_parquet(path)


def _norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def compare(got_path, want, subset_col=None, asked=None):
    """Compare the program's output with an oracle frame. Returns (ok, detail).

    With `subset_col`, the oracle is narrowed to the keys the program was
    `asked` for (a probe batch answers some of the oracle's query vectors),
    so a key the program drops is a missing row. An empty output fails.
    Floats must agree within 1e-9; everything else exactly.
    """
    got = read(got_path)
    if got is None or got.empty:
        return False, "no output"
    if subset_col:
        got = got.drop_duplicates()
        want = want[want[subset_col].isin(set(asked or ()))]
    g, w = _norm(got.copy()), _norm(want.copy())
    if list(g.columns) != list(w.columns):
        return False, f"columns {list(g.columns)} vs {list(w.columns)}"
    if len(g) != len(w):
        return False, f"rows {len(g)} vs oracle {len(w)}"
    for c in g.columns:
        gv, wv = g[c], w[c]
        if gv.dtype.kind == "f" or wv.dtype.kind == "f":
            same = np.allclose(gv.astype(float).fillna(-9e99), wv.astype(float).fillna(-9e99),
                               rtol=0, atol=1e-9)
        else:
            same = (gv.astype(str) == wv.astype(str)).all()
        if not same:
            return False, f"value mismatch in column {c}"
    return True, f"{len(g)} rows match"
