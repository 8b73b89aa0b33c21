#!/usr/bin/env python3
"""Row identity of two graft.Verify dumps.

Usage: python3 tools/compare_dumps.py <dumpA> <dumpB>

For every key directory in either dump, compares the row count, the column
names and the value hash of the canonicalised table (columns sorted by name,
rows sorted), with `canon` and `table_hash` from check_correctness.py, the
same canonicalisation the oracle check uses. Rows-only keys, which no oracle
covers, are compared the same way. Prints one line per key that differs and
a summary; exits 1 on any difference or on a key present in only one dump.
"""
import glob
import os
import sys

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from check_correctness import canon, table_hash  # noqa: E402


def keys(dump):
    return {k for k in os.listdir(dump) if os.path.isdir(os.path.join(dump, k))}


def load(dump, key):
    files = sorted(glob.glob(os.path.join(dump, key, "*.parquet")))
    if not files:
        return None
    df = pd.concat([pd.read_parquet(f) for f in files])
    # array cells (list columns) do not sort; compare them by their repr
    for c in df.columns:
        if df[c].map(lambda v: isinstance(v, (np.ndarray, list))).any():
            df[c] = df[c].map(lambda v: repr(list(v)) if v is not None else None)
    return canon(df)


def summary(df):
    return {"rows": len(df), "cols": list(df.columns), "hash": table_hash(df)}


def main():
    if len(sys.argv) != 3:
        raise SystemExit(__doc__.strip().splitlines()[2])
    a, b = sys.argv[1], sys.argv[2]
    ka, kb = keys(a), keys(b)
    diffs = 0
    for k in sorted(ka | kb):
        da = load(a, k) if k in ka else None
        db = load(b, k) if k in kb else None
        if da is None or db is None:
            side = a if da is None else b
            print(f"✗ {k}: no dump under {side}")
            diffs += 1
            continue
        sa, sb = summary(da), summary(db)
        if sa != sb:
            what = [f for f in ("rows", "cols", "hash") if sa[f] != sb[f]]
            print(f"✗ {k}: {', '.join(what)} differ "
                  f"(rows {sa['rows']} vs {sb['rows']})")
            diffs += 1
    n = len(ka | kb)
    print(f"\n{n - diffs}/{n} keys identical")
    sys.exit(1 if diffs else 0)


if __name__ == "__main__":
    main()
