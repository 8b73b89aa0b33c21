#!/usr/bin/env python3
"""Local driver-mimic: compare Verify parquet dumps against DuckDB oracle SQL.

Usage: python3 tools/check_correctness.py [sf_dir] [verify_out] [q_a,q_b,...]

Mirrors the driver's t2 gate: for each query with oracle SQL, run the SQL in
DuckDB over the same parquet tables, sort columns by name, compare row count,
schema (column names), and a hash of the values (rows sorted for stability).
Each query's line carries its elapsed seconds (reading the Verify dump, the
DuckDB SQL and the compare); the summary line carries the total.

The optional third argument, a comma-separated key list (the same form
`graft.Verify` takes as its third argument), checks and counts only those
keys; a listed key with neither oracle SQL nor a dump fails the run.
"""
import glob
import json
import math
import os
import sys
import time

import duckdb
import pandas as pd


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        return repr(v)  # exact double repr
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def table_hash(df: pd.DataFrame):
    import hashlib
    h = hashlib.sha256()
    for row in df.itertuples(index=False):
        h.update("|".join(norm_cell(v) for v in row).encode())
        h.update(b"\n")
    return h.hexdigest()


def check(con, name, sql, out_dir):
    """One query's result: its Verify dump against its oracle SQL."""
    files = glob.glob(f"{out_dir}/{name}/*.parquet")
    if not files:
        return {"status": "NO_SPARK_OUTPUT"}
    try:
        got = canon(pd.concat([pd.read_parquet(f) for f in files]))
        want = canon(con.sql(sql).df())
    except Exception as e:
        return {"status": "ERROR", "err": str(e)[:300]}
    r = {
        "rows": [len(got), len(want)],
        "cols_match": list(got.columns) == list(want.columns),
        "hash_match": None,
    }
    if r["cols_match"] and len(got) == len(want):
        r["hash_match"] = table_hash(got) == table_hash(want)
        if not r["hash_match"]:
            # locate first differing cell for debugging
            for i in range(len(got)):
                for c in got.columns:
                    a, b = norm_cell(got[c].iloc[i]), norm_cell(want[c].iloc[i])
                    if a != b:
                        r["first_diff"] = {"row": i, "col": c,
                                           "spark": a, "duckdb": b}
                        break
                if "first_diff" in r:
                    break
    r["status"] = ("PASS" if r["hash_match"]
                   else "FAIL")
    return r


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/repo/target/verify_out"
    only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracle = json.load(f)
    unknown = []
    if only is not None:
        oracle = {k: v for k, v in oracle.items() if k in only}
        unknown = sorted(k for k in only
                         if k not in oracle and not os.path.isdir(f"{out_dir}/{k}"))
    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    results = {}
    elapsed = {}
    for name in sorted(oracle):
        t0 = time.perf_counter()
        results[name] = check(con, name, oracle[name], out_dir)
        elapsed[name] = time.perf_counter() - t0
    npass = sum(1 for r in results.values() if r.get("status") == "PASS")
    for name, r in results.items():
        flag = "✓" if r.get("status") == "PASS" else "✗"
        extra = "" if r.get("status") == "PASS" else f"  {json.dumps(r, default=str)[:400]}"
        print(f"{flag} {name}  {elapsed[name]:.2f}s{extra}")
    print(f"\n{npass}/{len(results)} oracle queries PASS in {sum(elapsed.values()):.1f}s")
    # rows-only queries: report row counts
    for name in sorted(os.listdir(out_dir)):
        p = f"{out_dir}/{name}"
        if os.path.isdir(p) and name not in oracle and (only is None or name in only):
            files = glob.glob(f"{p}/*.parquet")
            n = sum(len(pd.read_parquet(f)) for f in files) if files else -1
            print(f"  rows-only {name}: {n} rows")
    for name in unknown:
        print(f"✗ {name}: no oracle SQL and no dump under {out_dir}")
    sys.exit(0 if npass == len(results) and not unknown else 1)


if __name__ == "__main__":
    main()
