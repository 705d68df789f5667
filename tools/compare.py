#!/usr/bin/env python3
"""Dev-only local mirror of the driver's correctness gate.

Runs each oracle_sql.json query in DuckDB over the sf parquet tables and
compares to the Verify-dumped Spark parquet: schema (column names), row
count, and a hash over values with columns sorted by name and rows sorted.

Usage: python3 tools/compare.py <sfDir> <verifyOutDir> [onlyCsv]

The optional third argument is a comma-list of query names, the same as
Verify's: only those are compared, and a listed name missing from
oracle_sql.json or from the dump is a FAIL.
"""
import sys, json, glob, os
import duckdb
import pandas as pd

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort",
                            na_position="last").reset_index(drop=True)
    return df

def cell(v):
    if v is None or (isinstance(v, float) and pd.isna(v)):
        return "<null>"
    if isinstance(v, float):
        return repr(v)
    return str(v)

def table_hash(df: pd.DataFrame):
    import hashlib
    h = hashlib.sha256()
    for row in df.itertuples(index=False):
        h.update(("|".join(cell(v) for v in row) + "\n").encode())
    return h.hexdigest()

def main(sf_dir, out_dir, only=None):
    con = duckdb.connect()
    for p in glob.glob(f"{sf_dir}/*.parquet"):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    ok = fail = 0
    if only is not None:
        for name in sorted(only - oracle.keys()):
            print(f"FAIL {name}: not in oracle_sql.json"); fail += 1
        oracle = {k: v for k, v in oracle.items() if k in only}
    for name, sql in sorted(oracle.items()):
        spark_dir = f"{out_dir}/{name}"
        try:
            got = canon(pd.concat([pd.read_parquet(f) for f in
                   sorted(glob.glob(f"{spark_dir}/*.parquet"))],
                   ignore_index=True))
        except Exception as e:
            print(f"FAIL {name}: no spark output ({e})"); fail += 1; continue
        try:
            exp = canon(con.execute(sql).df())
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}"); fail += 1; continue
        problems = []
        if list(got.columns) != list(exp.columns):
            problems.append(f"cols spark={list(got.columns)} duck={list(exp.columns)}")
        if len(got) != len(exp):
            problems.append(f"rows spark={len(got)} duck={len(exp)}")
        if not problems and table_hash(got) != table_hash(exp):
            diff_at = None
            for i in range(len(got)):
                for c in got.columns:
                    if cell(got.iloc[i][c]) != cell(exp.iloc[i][c]):
                        diff_at = (i, c, got.iloc[i][c], exp.iloc[i][c]); break
                if diff_at: break
            problems.append(f"hash mismatch, first diff {diff_at}")
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}"); fail += 1
        else:
            print(f"OK   {name} ({len(got)} rows)"); ok += 1
    print(f"\n{ok} ok, {fail} fail")
    return 1 if fail else 0

if __name__ == "__main__":
    only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
    sys.exit(main(sys.argv[1], sys.argv[2], only))
