#!/usr/bin/env python3
"""Self-test of the benchmark: one short pass per workload at sf0.001.

Usage: python3 perfbench/selftest.py

Checks that each workload runs, that every result matches, that the result
line carries every end-to-end metric (and, traced, every per-layer one),
and that a deliberately wrong expected result is counted as failed."""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def bench(workload, *extra, trace=0):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "0", "--trace", str(trace), "--sf", "sf0.001",
           *extra]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
    if r.returncode != 0:
        raise SystemExit(f"FAIL: {' '.join(cmd)} exited with {r.returncode}")
    return json.loads(r.stdout.strip().splitlines()[-1])


def main():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"] for m in spec["end_to_end"]}
    per_layer = {m["name"] for m in spec["per_layer"]}
    problems = []

    def expect(ok, what):
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            problems.append(what)

    for w in [x["name"] for x in spec["workloads"]]:
        r = bench(w)
        expect(r["correct"] and r["failed"] == 0 and r["attempted"] > 0,
               f"{w}: every result matches ({r['attempted']} checked or timed)")
        expect(set(r["metrics"]) == e2e, f"{w}: result line has every end-to-end metric")
    r = bench("interactive", "--corrupt-digest", "q_agg_sum")
    expect(not r["correct"] and r["failed"] == 1,
           "interactive: a wrong digest for q_agg_sum counts as one failure")
    r = bench("ingest", "--corrupt-digest", "state")
    expect(not r["correct"] and r["failed"] == 1,
           "ingest: a wrong reference state counts as one failure")
    r = bench("ingest", trace=1)
    expect(r["correct"] and set(r["metrics"]) == per_layer,
           "ingest traced: result line has every per-layer metric")
    if problems:
        raise SystemExit(f"{len(problems)} self-test check(s) failed")
    print("self-test passed")


if __name__ == "__main__":
    main()
