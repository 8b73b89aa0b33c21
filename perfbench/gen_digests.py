#!/usr/bin/env python3
"""Regenerate perfbench/digests/<sf>.json: the expected results of the 36
reference-surface and TPC-H keys and 10 LLM-pipeline keys, computed by
DuckDB from the engine's oracle SQL (`SparkEntry.oracleSql`) over
perfbench/data/<sf>.

Usage: python3 perfbench/gen_digests.py sf0.01 [key ...]

Run it once when the data or a query's meaning changes, not per benchmark
run: DuckDB takes minutes on some of these queries. Needs the `duckdb`
Python package and a built harness (any run.py invocation builds it)."""
import json
import os
import subprocess
import sys
import tempfile
import time

import duckdb

import digest
import run

# every reference-surface, TPC-H and LLM-pipeline key the benchmark's
# workloads have used or may use
KEYS = run.SURFACE + [f"q_tpch_q{i}" for i in range(1, 23)] + [
    "q_dedup_jaccard", "q_dedup_ngram", "q_containment", "q_lsh_recall",
    "q_triangles", "q_dedup_indexed", "q_dedup_incremental", "q_dedup_groups",
    "q_pagerank", "q_textrank"]
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def main(sf, only):
    keys = only or KEYS
    launch, _ = run.build(time.time() + 840)
    with open(os.path.join(launch, "classpath.txt")) as f:
        cp = f.read().strip()
    with tempfile.TemporaryDirectory(dir=os.path.join(run.HERE, "target")) as tmp:
        out = os.path.join(tmp, "oracle.json")
        subprocess.run(["java", "-cp", cp, "graftbench.OracleDump", out, ",".join(keys)],
                       check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
        with open(out) as f:
            oracle = json.load(f)
    data = os.path.join(run.HERE, "data", sf)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data, t + '.parquet')}')")
    path = os.path.join(run.HERE, "digests", f"{sf}.json")
    digests = {}
    if os.path.exists(path):
        with open(path) as f:
            digests = json.load(f)
    for k in keys:
        t0 = time.time()
        digests[k] = digest.of_frame(con.sql(oracle[k]).df())
        print(f"{k}: {digests[k]['rows']} rows, {time.time() - t0:.1f} s", flush=True)
    with open(path, "w") as f:
        json.dump(dict(sorted(digests.items())), f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2:])
