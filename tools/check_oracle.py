#!/usr/bin/env python3
"""Local pre-flight for the driver's correctness gate.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>

For every query named in <verifyOutDir>/oracle_sql.json, reads the
<verifyOutDir>/<name> parquet (written by graft.Verify), runs the oracle SQL
in DuckDB against the same parquet tables, sorts columns by name + rows, and
compares values exactly (floats to 1e-12 relative). A named query with no
output counts as FAIL; an output directory with no oracle is reported
rows-only. Mirrors what we know of the driver harness.
"""
import json, sys, glob, os
import duckdb
import pandas as pd
import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = n_noracle = 0
    dirs = {d for d in os.listdir(out_dir)
            if os.path.isdir(os.path.join(out_dir, d))}
    names = sorted(dirs | set(oracle))
    for name in names:
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output"); n_fail += 1; continue
        spark_df = pd.concat([pd.read_parquet(f) for f in files])
        if name not in oracle:
            print(f"---- {name}: no oracle (rows-only): {len(spark_df)} rows")
            n_noracle += 1
            continue
        try:
            duck_df = con.execute(oracle[name]).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}"); n_fail += 1; continue
        s, k = norm(spark_df), norm(duck_df)
        if list(s.columns) != list(k.columns):
            print(f"FAIL {name}: columns {list(s.columns)} vs {list(k.columns)}")
            n_fail += 1; continue
        if len(s) != len(k):
            print(f"FAIL {name}: rows {len(s)} vs {len(k)}"); n_fail += 1; continue
        ok = True
        for c in s.columns:
            a, b = s[c].values, k[c].values
            if a.dtype.kind == 'f' or b.dtype.kind == 'f':
                both_nan = pd.isna(a) & pd.isna(b)
                eq = np.isclose(a.astype(float), b.astype(float),
                                rtol=0, atol=0, equal_nan=True)
                exact = np.all(eq | both_nan)
                close = np.allclose(np.nan_to_num(a.astype(float)),
                                    np.nan_to_num(b.astype(float)), rtol=1e-12)
                if not exact:
                    msg = "bit-diff" if close else "value-diff"
                    i = int(np.argmin(eq | both_nan))
                    print(f"FAIL {name}: col {c} {msg} "
                          f"(row{i}: {a[i]!r} vs {b[i]!r})")
                    ok = False; break
            else:
                sa = pd.Series(a).astype(object).where(pd.notna(a), None)
                sb = pd.Series(b).astype(object).where(pd.notna(b), None)
                if not sa.equals(sb):
                    neq = [i for i in range(len(sa)) if sa[i] != sb[i]][:1]
                    i = neq[0] if neq else 0
                    print(f"FAIL {name}: col {c} mismatch "
                          f"(dtype {a.dtype} vs {b.dtype}; row{i}: {sa[i]!r} vs {sb[i]!r})")
                    ok = False; break
        if ok:
            print(f"PASS {name} ({len(s)} rows)"); n_pass += 1
        else:
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_noracle} rows-only")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
