"""Correctness gate: runs once per benchmark run, outside every timed
region.

- Query workloads: each query's Spark result against its registered
  DuckDB oracle SQL over the same generated tables, with the default
  tolerance of ``scripts/driver_check.py`` (order-insensitive rows,
  floats within 1e-9, everything else string-equal).
- ``ep1_ingest``: the audit counters and bucket histogram the EP1 CLI
  prints, and the row count of the Parquet it wrote, against the values
  the input generator computed from its own rows.

Every gate also runs a self-test: it makes the expected output wrong
by one row and must see its own comparison fail.
"""

from __future__ import annotations

import ast
import os
import re

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

FLOAT_TOL = 1e-9


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    df.columns = [c.lower() for c in df.columns]
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(actual: pd.DataFrame, expected: pd.DataFrame) -> str | None:
    """None when the frames match, else the first difference."""
    a, e = _norm(actual), _norm(expected)
    if list(a.columns) != list(e.columns):
        return f"columns {list(a.columns)} vs {list(e.columns)}"
    if len(a) != len(e):
        return f"rows {len(a)} vs {len(e)}"
    for c in a.columns:
        if pd.api.types.is_float_dtype(a[c]) or pd.api.types.is_float_dtype(e[c]):
            diff = (a[c].astype(float) - e[c].astype(float)).abs().max()
            if diff > FLOAT_TOL:
                return f"column {c}: max diff {diff}"
        else:
            sa = a[c].astype(str).where(a[c].notna(), "<null>")
            se = e[c].astype(str).where(e[c].notna(), "<null>")
            bad = int((sa != se).sum())
            if bad:
                return f"column {c}: {bad} mismatched values"
    return None


def oracle_connection(tables_dir: str, tables: list[str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(tables_dir, t)}.parquet'")
    return con


def check_queries(results: dict[str, pd.DataFrame], oracles: dict[str, str],
                  con: duckdb.DuckDBPyConnection) -> dict:
    """Compare each collected result with its oracle; the self-test
    drops one expected row of every query and requires a failure."""
    failures, selftest_misses, out_bytes = {}, [], 0
    for name, actual in results.items():
        expected = con.execute(oracles[name]).fetch_df()
        err = compare(actual, expected)
        if err:
            failures[name] = err
        if len(expected) and compare(actual, expected.iloc[:-1]) is None:
            selftest_misses.append(name)
        out_bytes += pa.Table.from_pandas(actual, preserve_index=False).nbytes
    return {"ok": not failures, "failures": failures,
            "selftest_ok": not selftest_misses, "selftest_misses": selftest_misses,
            "output_bytes": out_bytes}


_AUDIT = re.compile(r"^audit: (\{.*\})$")
_BUCKET = re.compile(r"^bucket (\d+)x(\d+): (\d+) images")


def parse_ep1_stdout(text: str) -> tuple[dict, dict[str, int]]:
    audit, buckets = {}, {}
    for line in text.splitlines():
        m = _AUDIT.match(line)
        if m:
            audit = ast.literal_eval(m.group(1))
        m = _BUCKET.match(line)
        if m:
            buckets[f"{m.group(1)}x{m.group(2)}"] = int(m.group(3))
    return audit, buckets


def _ep1_diffs(got: dict, expected: dict) -> list[str]:
    diffs = []
    for k, v in expected["audit"].items():
        if got["audit"].get(k) != v:
            diffs.append(f"audit {k}: {got['audit'].get(k)} vs {v}")
    if got["rows_out"] != expected["rows_out"]:
        diffs.append(f"sink rows {got['rows_out']} vs {expected['rows_out']}")
    if got["buckets"] != expected["buckets"]:
        keys = sorted(set(got["buckets"]) | set(expected["buckets"]))
        bad = [k for k in keys if got["buckets"].get(k) != expected["buckets"].get(k)]
        diffs.append(f"bucket histogram differs at {bad[:5]}")
    return diffs


def check_ep1(stdout: str, out_path: str, expected: dict) -> dict:
    """Gate one EP1 CLI run: printed audit + histogram, and the rows of
    the Parquet it wrote. The self-test adds one expected output row."""
    audit, buckets = parse_ep1_stdout(stdout)
    files = [os.path.join(out_path, f) for f in os.listdir(out_path) if f.endswith(".parquet")]
    rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    got = {"audit": audit, "rows_out": rows, "buckets": buckets}
    diffs = _ep1_diffs(got, expected)
    wrong = dict(expected, rows_out=expected["rows_out"] + 1)
    return {"ok": not diffs, "failures": diffs,
            "selftest_ok": bool(_ep1_diffs(got, wrong)), "selftest_misses": [],
            "output_bytes": sum(os.path.getsize(f) for f in files)}
