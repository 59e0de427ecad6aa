"""query_suite output check: each query's Spark output against its
DuckDB oracle SQL (`graft.SparkEntry.oracleSql`) on the same tables.

A query passes when both sides have the same columns, the same row
count and the same order-insensitive hash of their rows, after the
normalization the project's own correctness gate applies (columns by
name, naive timestamps, arrays as tuples).
"""
import decimal
import glob
import hashlib
import json
import os
import sys

import duckdb
import numpy as np
import pandas as pd

# the project's own correctness gate: its table list and normalization
# (read only: no bytecode is written into the program's tree)
sys.dont_write_bytecode = True
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))
from selfcheck import TABLES, norm  # noqa: E402


def _canon(v):
    """One representation per value, whichever engine produced it:
    numbers as floats (1 == 1.0, -0.0 == 0.0), NaN/NaT as None."""
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, float, np.integer, np.floating, decimal.Decimal)):
        f = float(v)
        return None if f != f else (0.0 if f == 0 else f)
    if isinstance(v, (tuple, list, np.ndarray)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    return v


def _rows_hash(df: pd.DataFrame) -> str:
    rows = sorted(repr(_canon(r)) for r in df.itertuples(index=False, name=None))
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


def compare(tables_dir: str, out_dir: str, oracle_json: str) -> list:
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(tables_dir, t)}.parquet'")
    with open(oracle_json) as f:
        oracle = json.load(f)
    checks = []
    for name, sql in sorted(oracle.items()):
        detail = ""
        try:
            if not glob.glob(os.path.join(out_dir, name, "*.parquet")):
                raise ValueError("no Spark output")
            got = norm(pd.read_parquet(os.path.join(out_dir, name)))
            exp = norm(con.execute(sql).df())
            if list(got.columns) != list(exp.columns):
                detail = f"columns {list(got.columns)} vs {list(exp.columns)}"
            elif len(got) != len(exp):
                detail = f"rows {len(got)} vs {len(exp)}"
            elif _rows_hash(got) != _rows_hash(exp):
                detail = "row hash differs"
        except Exception as e:  # a query that cannot be compared fails
            detail = str(e).splitlines()[0][:200] if str(e) else repr(e)
        checks.append({"name": f"oracle {name}", "ok": not detail,
                       "detail": detail})
    return checks
