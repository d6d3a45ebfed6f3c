"""Output checks against the package's DuckDB oracle.

The expected answer for an op is the ``oracle_sql()`` entry for the
same query, run by DuckDB over the same input tables, optionally
restricted to the rows the op asked for (a query batch). Both sides are
normalized (columns and rows sorted, ints as int64, floats as float64)
and compared by digest. Nothing expected is ever derived from Spark's
own output.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import numpy as np
import pandas as pd


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        kind = df[c].dtype.kind
        if kind == "f":
            df[c] = df[c].astype(np.float64)
        elif kind in "iu":
            df[c] = df[c].astype(np.int64)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def digest(df: pd.DataFrame) -> str:
    norm = normalize(df)
    text = ",".join(norm.columns) + "\n" + norm.to_csv(index=False, header=False, float_format="%.17g")
    return hashlib.sha256(text.encode()).hexdigest()


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """``None`` when both frames hold the same rows, else a reason."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    if digest(got) != digest(want):
        return "values differ"
    return None


def _run_oracles(data_dir: str, jobs: list[tuple[str, str]]) -> None:
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for name in sorted(os.listdir(data_dir)):
        if name.endswith(".parquet"):
            path = os.path.join(data_dir, name)
            con.sql(f"CREATE VIEW {name[:-8]} AS SELECT * FROM '{path}'")
    for sql, out in jobs:
        con.sql(sql).df().to_parquet(out + ".part", index=False)
        os.replace(out + ".part", out)


def tables_digest(data_dir: str) -> str:
    """Digest of the bytes of every table in ``data_dir``."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(data_dir)):
        if name.endswith(".parquet"):
            h.update(name.encode() + b"\0")
            with open(os.path.join(data_dir, name), "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def oracle_frames(data_dir: str, sqls: dict[str, str], cache_dir: str) -> dict[str, pd.DataFrame]:
    """Run each oracle SQL once over the tables in ``data_dir`` (in a
    child process, so DuckDB's memory never counts against the run) and
    cache the result under ``cache_dir``, keyed by the SQL text and the
    tables' bytes."""
    os.makedirs(cache_dir, exist_ok=True)
    tables = tables_digest(data_dir)
    paths, todo = {}, []
    for name, sql in sqls.items():
        key = hashlib.sha256((tables + "\n" + sql).encode()).hexdigest()[:16]
        paths[name] = os.path.join(cache_dir, f"{name}-{key}.parquet")
        if not os.path.exists(paths[name]):
            todo.append((sql, paths[name]))
    if todo:
        subprocess.run([sys.executable, os.path.abspath(__file__), data_dir],
                       input=json.dumps(todo), text=True, check=True)
    return {name: pd.read_parquet(path) for name, path in paths.items()}


if __name__ == "__main__":
    # python3 check.py <data_dir>, with [[sql, out_path], ...] as JSON on stdin
    _run_oracles(sys.argv[1], json.load(sys.stdin))
