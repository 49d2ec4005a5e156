#!/usr/bin/env python3
"""Local replica of the driver's correctness gate (builder-side tooling only;
the Scala library has no Python dependency).

Usage: python3 tools/oracle_check.py <verify_out_dir> <sf_dir>
       python3 tools/oracle_check.py <verify_out_dir> --against <other_verify_out_dir>

Reads each <verify_out_dir>/<name>/ parquet (written by graft.Verify), runs
the matching oracle_sql.json entry in DuckDB over the sf_dir tables, sorts
columns by name + rows by all columns, and diffs values.

With --against, the expected side is instead the same query's parquet in a
second graft.Verify dump (say, one written by the parent commit's build),
over the union of the two dumps' query directories: a row-for-row
"outputs unchanged" check under the same strictness.

STRICTNESS (r13, after the r12 escape): this gate must be at least as strict
as the driver's, which (a) hash-compares pandas values dtype-sensitively —
DuckDB SUM(BIGINT)→HUGEINT materializes as float64 and hash-mismatches
Spark's int64 even when numerically equal (the r12 ann_pq red) — and
(b) sorts rows with pandas sort_values, which raises on array cells
(the r12 embedding_pq_codes red). So here:
  * any list/ndarray cell in EITHER side is an outright FAIL;
  * the two frames' dtypes must match exactly, column by column.
Both r12 defects red-flag under this gate; neither did under the old one.
"""
import glob
import json
import math
import os
import sys

import duckdb
import pandas as pd


TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def array_cols(df: pd.DataFrame):
    bad = []
    for c in df.columns:
        if df[c].map(
            lambda v: (isinstance(v, (list, tuple)) or (hasattr(v, "tolist") and not isinstance(v, str))),
            na_action="ignore",
        ).any():
            bad.append(c)
    return bad


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), kind="mergesort", na_position="first").reset_index(drop=True)
    return df


def values_equal(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    if pd.isna(a) is True and pd.isna(b) is True:
        return True
    return a == b


def compare(got: pd.DataFrame, exp: pd.DataFrame):
    """None if the frames match under the gate's strictness, else the reason."""
    bad_arrays = array_cols(got) + [c for c in array_cols(exp) if c not in array_cols(got)]
    if bad_arrays:
        return f"array-typed column(s) {bad_arrays} — a pandas row sort cannot order these"
    g, e = normalize(got), normalize(exp)
    if list(g.columns) != list(e.columns):
        return f"columns {list(g.columns)} vs {list(e.columns)}"
    dtype_bad = [
        (c, str(g[c].dtype), str(e[c].dtype))
        for c in g.columns
        if str(g[c].dtype) != str(e[c].dtype)
    ]
    if dtype_bad:
        return f"dtype mismatch {dtype_bad} — the result hash is dtype-sensitive"
    if len(g) != len(e):
        return f"rows {len(g)} vs {len(e)}"
    for col in g.columns:
        for i, (x, y) in enumerate(zip(g[col], e[col])):
            if not values_equal(x, y):
                return f"col={col} row={i} got={x!r} exp={y!r}"
    return None


def dumped_queries(out_dir):
    return {d for d in os.listdir(out_dir)
            if os.path.isdir(os.path.join(out_dir, d)) and glob.glob(os.path.join(out_dir, d, "*.parquet"))}


def main():
    args = sys.argv[1:]
    if len(args) == 3 and args[1] == "--against":
        out_dir, other = args[0], args[2]
        names = sorted(dumped_queries(out_dir) | dumped_queries(other))
        expected = lambda con, name: con.sql(f"SELECT * FROM parquet_scan('{other}/{name}/*.parquet')").df()
        what = f"outputs row-identical to {other}"
    elif len(args) == 2:
        out_dir, sf_dir = args
        oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
        names = sorted(oracle)
        expected = lambda con, name: con.sql(oracle[name]).df()
        what = "oracle-checked queries match"
    else:
        sys.exit(__doc__)
    con = duckdb.connect()
    con.sql("SET TimeZone='UTC'")
    if len(args) == 2:
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    failures = []
    for name in names:
        try:
            got = con.sql(f"SELECT * FROM parquet_scan('{out_dir}/{name}/*.parquet')").df()
            exp = expected(con, name)
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: exception {str(e)[:200]}")
            continue
        why = compare(got, exp)
        if why:
            failures.append(name)
            print(f"FAIL {name}: {why}")
        else:
            print(f"OK   {name}: {len(got)} rows x {len(got.columns)} cols")
    print(f"\n{len(names) - len(failures)}/{len(names)} {what}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
