"""Order-insensitive exact comparison of two result frames, and the DuckDB
oracle results the headline check compares against."""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd


def canonicalize(df: pd.DataFrame) -> pd.DataFrame:
    """Columns sorted by name, dtypes normalized, rows sorted. Timestamps
    become naive UTC microseconds whichever engine produced them."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if isinstance(s.dtype, pd.DatetimeTZDtype):
            df[c] = s.dt.tz_convert("UTC").dt.tz_localize(None).astype("datetime64[us]")
        elif pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]")
        elif pd.api.types.is_bool_dtype(s):
            df[c] = s.astype(bool)
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("int64")
        elif pd.api.types.is_float_dtype(s):
            arr = s.astype("float64").to_numpy(copy=True)
            # -0.0 == 0.0 but formats differently; keep the two apart
            arr[np.signbit(arr) & (arr == 0.0)] = -5e-324
            df[c] = arr
        else:
            df[c] = s.astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def frames_equal(actual: pd.DataFrame, expected: pd.DataFrame) -> str | None:
    """None when equal as row multisets, else a one-line reason."""
    a, e = canonicalize(actual), canonicalize(expected)
    if list(a.columns) != list(e.columns):
        return f"columns {list(a.columns)} != {list(e.columns)}"
    if len(a) != len(e):
        return f"{len(a)} rows != {len(e)} expected"
    try:
        pd.testing.assert_frame_equal(a, e, check_exact=True)
    except AssertionError as exc:
        return str(exc).splitlines()[0]
    return None


def duck(sf_dir: str):
    import duckdb
    from datalakeingestion_spark.sources.fixtures import TABLES

    con = duckdb.connect()
    con.execute("SET threads=2")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def oracle_result(con, sql: str, sf_dir: str, cache_dir: str) -> pd.DataFrame:
    """The oracle's result, kept on disk under a key of the SQL text and the
    fixture files' names, sizes and mtimes: it depends on nothing else, and
    the slowest oracles take about ten seconds at sf0.01."""
    from datalakeingestion_spark.sources.fixtures import TABLES

    h = hashlib.sha256(sql.encode())
    for t in TABLES:
        st = os.stat(os.path.join(sf_dir, f"{t}.parquet"))
        h.update(f"{sf_dir}/{t}:{st.st_size}:{st.st_mtime_ns}".encode())
    path = os.path.join(cache_dir, h.hexdigest() + ".pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    df = con.execute(sql).df()
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}"
    df.to_pickle(tmp)
    os.replace(tmp, path)
    return df
