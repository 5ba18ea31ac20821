#!/usr/bin/env python3
"""Local emulation of the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>
       python3 tools/check_oracle.py <sfDir> <verifyOutDir> --against <old oracle_sql.json>

Runs each oracle_sql.json entry in DuckDB over the same parquet tables and
compares against the Spark parquet dumps written by graft.Verify:
column names (sorted), row counts, and values (floats rounded).

With --against, compares oracle against oracle instead: for every name in
both the old file and <verifyOutDir>/oracle_sql.json whose SQL text
differs, both strings run in DuckDB and their rows are compared with the
same normalisation (names with identical text are listed as same-sql).
This is the check that a rewritten mirror still means the same query.
Dev-only tooling — the shipped Scala library does not depend on this.
"""
import argparse
import json
import sys
import glob
import os

import duckdb
import pandas as pd
import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def load_spark(outdir, name):
    files = sorted(glob.glob(os.path.join(outdir, name, "*.parquet")))
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def normalize(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            # lists / arrays -> tuples for comparability
            df[c] = df[c].map(lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v)
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].round(6)
        elif str(df[c].dtype).startswith("datetime64"):
            df[c] = pd.to_datetime(df[c]).dt.floor("us")
    return df.reset_index(drop=True)


def compare(name, s, d, ls="spark", ld="duck"):
    """Compare two result frames after normalize(); print one status line
    (and the first differing value per column, labelled ls/ld); return
    True when equal."""
    s, d = normalize(s), normalize(d)
    if list(s.columns) != list(d.columns):
        print(f"  [FAIL-COLS ] {name}: {ls}={list(s.columns)} {ld}={list(d.columns)}")
        return False
    if len(s) != len(d):
        print(f"  [FAIL-ROWS ] {name}: {ls}={len(s)} {ld}={len(d)}")
        return False
    try:
        pd.testing.assert_frame_equal(s, d, check_dtype=False,
                                      check_exact=False, rtol=1e-6, atol=1e-9)
        print(f"  [OK        ] {name}: {len(s)} rows")
        return True
    except AssertionError as e:
        msg = str(e).splitlines()[0:4]
        print(f"  [FAIL-VALS ] {name}: {' | '.join(msg)}")
        bad = (s != d) if s.shape == d.shape else None
        if bad is not None:
            for c in s.columns:
                neq = s[c].ne(d[c])
                # NaN == NaN
                both_na = s[c].isna() & d[c].isna()
                neq &= ~both_na
                if neq.any():
                    i = neq.idxmax()
                    print(f"      col={c} row={i}: {ls}={s[c][i]!r} {ld}={d[c][i]!r} ({int(neq.sum())} diffs)")
        return False


def against(con, oracles, old_path):
    """Oracle-vs-oracle: rows of the old and new SQL for each shared name."""
    with open(old_path) as f:
        old = json.load(f)
    shared = sorted(set(oracles) & set(old))
    n_ok = n_fail = n_same = 0
    for name in shared:
        if oracles[name] == old[name]:
            n_same += 1
            continue
        try:
            new_df = con.execute(oracles[name]).fetchdf()
            old_df = con.execute(old[name]).fetchdf()
        except Exception as e:
            print(f"  [ORACLE-ERR] {name}: {e}")
            n_fail += 1
            continue
        if compare(name, new_df, old_df, "new", "old"):
            n_ok += 1
        else:
            n_fail += 1
    only_new = sorted(set(oracles) - set(old))
    only_old = sorted(set(old) - set(oracles))
    print(f"\n{n_ok} OK, {n_fail} FAIL of {n_ok + n_fail} rewritten; "
          f"{n_same} same-sql; only new: {only_new}; only old: {only_old}")
    return 1 if n_fail else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("sf_dir")
    ap.add_argument("out_dir")
    ap.add_argument("--against", metavar="OLD_ORACLE_SQL_JSON",
                    help="compare each rewritten oracle's rows with this file's")
    args = ap.parse_args()
    sf_dir, out_dir = args.sf_dir, args.out_dir
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    if args.against:
        return against(con, oracles, args.against)

    n_ok = n_fail = 0
    all_queries = sorted(d for d in os.listdir(out_dir)
                         if os.path.isdir(os.path.join(out_dir, d)))
    for name in all_queries:
        spark_df = load_spark(out_dir, name)
        if name not in oracles:
            status = "rows-only"
            rows = 0 if spark_df is None else len(spark_df)
            print(f"  [{status:9s}] {name}: {rows} rows")
            continue
        try:
            duck_df = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            print(f"  [ORACLE-ERR] {name}: {e}")
            n_fail += 1
            continue
        if spark_df is None:
            print(f"  [FAIL      ] {name}: no spark output")
            n_fail += 1
            continue
        if compare(name, spark_df, duck_df):
            n_ok += 1
        else:
            n_fail += 1
    print(f"\n{n_ok} OK, {n_fail} FAIL, {len(all_queries) - n_ok - n_fail} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
