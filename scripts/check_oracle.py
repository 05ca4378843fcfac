#!/usr/bin/env python3
"""Local replay of the driver's correctness gate.

Usage:
  sbt "runMain graft.Verify <sfDir> <outDir> [name,name,...]"
  python3 scripts/check_oracle.py <sfDir> <outDir> [comma-names]

Reads <outDir>/oracle_sql.json, runs each oracle in DuckDB against the
parquet tables in <sfDir>, and compares column-sorted stringified values
against the Verify parquet dumps in <outDir>/<name>/.

DuckDB runs under a memory limit (60% of physical memory) with a spill
directory, so the large oracles spill instead of stopping the pass. A
query whose oracle or comparison raises is reported as `ERROR <name>`
and counted as a failure.
"""
import json
import os
import shutil
import sys
import tempfile

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# DuckDB's default limit is 80% of RAM for one connection that runs every
# oracle; 60% leaves room for the rest of the host, and what does not fit
# spills to the temp directory. At sf0.01 the semantic-dedup oracles still
# hold 6 GB or more in operators that do not spill.
MEMORY_LIMIT_MB = int(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") * 0.6) >> 20


def canon(df: pd.DataFrame) -> pd.DataFrame:
    # List-valued cells arrive as numpy arrays (parquet) or Python
    # lists (DuckDB) with different str() forms ('[1 2]' vs
    # '[1, 2]') and are unhashable in pandas sort paths —
    # canonicalize to a plain-list JSON string before compare.
    df = df.reindex(sorted(df.columns), axis=1).reset_index(drop=True)
    for c in df.columns:
        if df[c].map(lambda v: hasattr(v, "__len__")
                     and not isinstance(v, (str, bytes))).any():
            # .item() unwraps numpy scalars (int64/float64) that
            # json.dumps otherwise rejects for integer lists.
            df[c] = df[c].map(lambda v: json.dumps(
                                  [x.item() if hasattr(x, "item") else x
                                   for x in v])
                              if hasattr(v, "__len__")
                              and not isinstance(v, (str, bytes)) else v)
    return df.astype(str)


def compare(con, name: str, sql: str, out: str) -> bool:
    """Print one query's verdict; True when it matches its oracle."""
    s = canon(pd.read_parquet(f"{out}/{name}"))
    d = canon(con.execute(sql).df())
    if list(s.columns) != list(d.columns):
        print(f"SCHEMA   {name}: spark={list(s.columns)} duck={list(d.columns)}")
        return False
    if len(s) != len(d):
        print(f"ROWS     {name}: spark={len(s)} duck={len(d)}")
        return False
    if not s.equals(d):
        diff = (s != d).any(axis=1)
        print(f"VALUES   {name}: {int(diff.sum())} differing rows; first:")
        print(s[diff].head(2).to_string())
        print(d[diff].head(2).to_string())
        return False
    print(f"OK       {name} ({len(s)} rows)")
    return True


def main() -> int:
    sf, out = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
    spill = tempfile.mkdtemp(prefix="check_oracle_")
    try:
        con = duckdb.connect()
        con.execute(f"SET memory_limit = '{MEMORY_LIMIT_MB}MB'")
        con.execute(f"SET temp_directory = '{spill}'")
        for t in TABLES:
            p = f"{sf}/{t}.parquet"
            if os.path.exists(p):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        oracle = json.load(open(f"{out}/oracle_sql.json"))
        n_fail = n_error = 0
        for name in sorted(oracle):
            if only and name not in only:
                continue
            if not os.path.isdir(f"{out}/{name}"):
                print(f"MISSING  {name} (no Verify output)")
                n_fail += 1
                continue
            try:
                if not compare(con, name, oracle[name], out):
                    n_fail += 1
            except Exception as e:  # one query's error must not end the pass
                print(f"ERROR    {name}: {type(e).__name__}: {str(e)[:300]}")
                n_error += 1
        n_bad = n_fail + n_error
        print(f"{'PASS' if n_bad == 0 else 'FAIL'}: {n_bad} failures ({n_error} errors)")
        return 1 if n_bad else 0
    finally:
        shutil.rmtree(spill, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
