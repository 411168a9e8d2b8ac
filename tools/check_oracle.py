#!/usr/bin/env python3
"""Local emulation of the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir> [namePrefix]

Runs each oracle_sql.json entry in DuckDB over the same parquet tables and
compares against the Spark parquet dumps written by graft.Verify:
column names (sorted), row counts, and values (floats rounded).
`namePrefix` mirrors graft.Verify's third argument: only queries whose name
starts with it are checked. Every oracle entry under the prefix must have a
Spark dump (a query that threw in Spark writes none, which counts as FAIL),
and the check exits 1 when it compared no query at all.
Dev-only tooling — the shipped Scala library does not depend on this.
"""
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


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    prefix = sys.argv[3] if len(sys.argv) > 3 else ""
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)

    n_ok = n_fail = 0
    dumped = {d for d in os.listdir(out_dir)
              if os.path.isdir(os.path.join(out_dir, d))}
    all_queries = sorted(n for n in dumped | set(oracles) if n.startswith(prefix))
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
        s, d = normalize(spark_df), normalize(duck_df)
        if list(s.columns) != list(d.columns):
            print(f"  [FAIL-COLS ] {name}: spark={list(s.columns)} duck={list(d.columns)}")
            n_fail += 1
            continue
        if len(s) != len(d):
            print(f"  [FAIL-ROWS ] {name}: spark={len(s)} duck={len(d)}")
            n_fail += 1
            continue
        try:
            pd.testing.assert_frame_equal(s, d, check_dtype=False,
                                          check_exact=False, rtol=1e-6, atol=1e-9)
            print(f"  [OK        ] {name}: {len(s)} rows")
            n_ok += 1
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
                        print(f"      col={c} row={i}: spark={s[c][i]!r} duck={d[c][i]!r} ({int(neq.sum())} diffs)")
            n_fail += 1
    print(f"\n{n_ok} OK, {n_fail} FAIL, {len(all_queries) - n_ok - n_fail} rows-only")
    if n_ok + n_fail == 0:
        print(f"no query compared under prefix '{prefix}'")
        return 1
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
