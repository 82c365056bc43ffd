"""Correctness checks: DuckDB oracles replayed over the benchmark's inputs and
compared with the rows a timed call produced.

The comparison mirrors the repository's oracle harness (tools/check_local.py):
columns sorted by name, rows sorted, values compared exactly, and cells
compared once more as strings, since a value that is numerically equal but
renders differently (123 vs 123.0) is a different result.
"""
import duckdb
import pandas as pd

INPUT_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                "lineitem", "events", "documents", "embeddings"]


def connect(input_dir):
    """A DuckDB connection with a view per input table."""
    con = duckdb.connect()
    for t in INPUT_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{input_dir}/{t}.parquet'")
    return con


def read_output(con, path):
    return con.sql(f"SELECT * FROM '{path}/*.parquet'").df()


def normalize(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
        if str(df[c].dtype) in ("int8", "int16", "int32", "uint32", "Int64"):
            df[c] = df[c].astype("int64")
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def mismatch(got, want):
    """None when `got` equals `want`, else a one-line reason."""
    got, want = normalize(got), normalize(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if got.shape != want.shape:
        return f"shape {got.shape} != {want.shape}"
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return str(e).splitlines()[0][:300]
    for c in got.columns:
        gs = got[c].map(str).values
        ws = want[c].map(str).values
        neq = gs != ws
        if neq.any():
            i = int(neq.argmax())
            return f"column {c} renders {gs[i]!r} vs {ws[i]!r}"
    return None
