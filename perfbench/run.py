#!/usr/bin/env python3
"""graft's benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload interactive|ingest \\
        --seed N --seconds S --trace 0|1

Builds the engine and the harness from source (once per source state),
generates the workload's inputs from the seed, runs one client in a closed
loop on a `GraftSession.builder(local[nproc])` session, checks every result
(committed DuckDB digests for queries, an independent last-writer-wins
computation for ingest), prints every metric by name and unit, and ends
with one JSON line: `{"correct", "attempted", "failed", "metrics"}`. With
`--trace 0` the metrics are the end-to-end ones, with `--trace 1` the
per-layer ones (see BENCHMARK.json). `--seconds` sets how many passes are
timed: the seconds over the workload's nominal pass time, at least 2."""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import ingest  # noqa: E402
import layers  # noqa: E402

SURFACE = ["q_select_all", "q_projection", "q_distinct", "q_filter_eq",
           "q_filter_range", "q_filter_andor", "q_agg_sum", "q_agg_avg",
           "q_agg_minmax", "q_agg_count", "q_groupby", "q_orderby", "q_join",
           "q_join_multi"]

# kind, keys, nominal seconds of one pass on a 4-core box. `--seconds` sets
# the number of timed passes from the nominal pass time (at least 2), so a
# run measures a fixed amount of work whatever the engine's speed.
WORKLOADS = {
    "interactive": ("queries", SURFACE + ["q_tpch_q3"], 3.0),
    "ingest": ("ingest", [], 3.0),
}
SF = "sf0.01"
CYCLE = 3           # ingest: appends (each followed by a read) per compaction
WARM_BATCHES = 2    # ingest: change batches (after the snapshot) the set-up applies
RUN_BATCHES = 200   # ingest: batch files generated for the timed store
DEADLINE_S = 165    # a run must end within 180 s once built
HEAP = "3g"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_hash():
    """Hash of everything the build reads, to rebuild only when it changed."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, files in os.walk(top)
            if os.sep + "target" not in d[len(top):] for f in files)
        for p in paths:
            if os.path.isfile(p) and p.endswith((".scala", ".sbt", ".properties", ".java")):
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def run_group(cmd, deadline, out, **kw):
    """Run cmd in a process group of its own, killing the whole group if it
    outlives the deadline; returns (exit code, CPU seconds it used)."""
    p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                         start_new_session=True, **kw)
    try:
        while True:
            pid, status, ru = os.wait4(p.pid, os.WNOHANG)
            if pid:
                p.returncode = os.waitstatus_to_exitcode(status)
                return p.returncode, ru.ru_utime + ru.ru_stime
            if time.time() > deadline:
                raise TimeoutError(f"{cmd[0]} over its time limit")
            time.sleep(0.05)
    finally:
        if p.returncode is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def build(deadline):
    """Compile engine + harness with sbt (offline) unless already built."""
    launch = os.path.join(HERE, "target", "launch")
    stamp = os.path.join(launch, "stamp")
    want = sources_hash()
    if os.path.exists(os.path.join(launch, "classpath.txt")) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == want:
                return launch, False
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building engine and harness (sbt)")
    t0 = time.time()
    os.makedirs(os.path.join(HERE, "target"), exist_ok=True)
    log_file = os.path.join(HERE, "target", "build.log")
    with open(log_file, "wb") as out:
        code, _ = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                            deadline, out, cwd=HERE, env=env)
    if code != 0:
        with open(log_file, errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit("build failed")
    with open(stamp, "w") as f:
        f.write(want)
    log(f"built in {time.time() - t0:.0f} s")
    return launch, True


def proc_stat():
    """(busy, total) jiffies over all CPUs from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[0] + v[1] + v[2] + sum(v[5:8]), sum(v[:8])
    except OSError:
        return None


def load_avg():
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return None


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() or None if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(launch, args, run_dir, deadline):
    """Run the harness; returns (exit code, CPU seconds it used)."""
    with open(os.path.join(launch, "classpath.txt")) as f:
        cp = f.read().strip()
    with open(os.path.join(launch, "javaopts.txt")) as f:
        opts = [o for o in f.read().split("\n") if o and not o.startswith("-Xmx")]
    tmp = os.path.join(run_dir, "jvmtmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *opts, f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-cp", cp, "graftbench.Harness", *args]
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "_JAVA_OPTIONS")}
    with open(os.path.join(run_dir, "jvm.log"), "wb") as out:
        return run_group(cmd, deadline, out, cwd=run_dir, env=env)


def quantile(xs, q):
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    i = q * (len(xs) - 1)
    lo = int(i)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (i - lo)


def end_to_end(result, kind):
    """End-to-end metrics from the untraced timed passes: `pass_s` is the
    median pass wall, and the query quantiles are over every execution, so
    GC pauses and slow passes reach them. The sum of each operation's
    fastest execution (the min-of-N of graft.Bench) is printed besides."""
    ops = [o for o in result["ops"] if not o["traced"] and not o["error"]]
    groups = {}
    for o in ops:
        groups.setdefault((o["kind"], o["key"]), []).append(o["wall"])
    reads = [o["wall"] for o in ops if o["kind"] in ("query", "read")]
    m = {
        "setup_s": (result["setup"]["total_s"], "s"),
        "query_p50_s": (quantile(reads, 0.5), "s"),
        "query_p90_s": (quantile(reads, 0.9), "s"),
        "pass_s": (statistics.median(p["wall"] for p in result["passes"]
                                     if not p["traced"]), "s"),
        "live_heap_mb": (result["live_heap_mb"], "MB"),
    }
    ratios = [max(v) / min(v) for v in groups.values() if len(v) > 1 and min(v) > 0]
    extra = {
        "pass_min_sum_s": (sum(min(v) for v in groups.values()), "s"),
        "repeat_ratio": (statistics.median(ratios) if ratios else 1.0, "ratio"),
    }
    if kind == "ingest":
        def p50(op_kind):
            return quantile([o["wall"] for o in ops if o["kind"] == op_kind], 0.5)
        extra["append_p50_s"] = (p50("append"), "s")
        extra["read_p50_s"] = (p50("read"), "s")
        extra["compact_p50_s"] = (p50("compact"), "s")
        extra["write_amp"] = (result["write_amp"], "ratio")
    return m, extra


def check_queries(out, keys, expected, corrupt):
    """Digest the set-up pass's results; returns the mismatches."""
    import digest  # needs the repository's tools/, checked for in main
    bad = []
    for k in keys:
        want = dict(expected[k])
        if k == corrupt:
            want["sha256"] = "0" * 64
        got = digest.of_parquet_dir(os.path.join(out, "check", k))
        if got != want:
            bad.append((k, got, want))
    return bad


def dir_stats(path):
    n = b = 0
    for d, _, files in os.walk(path):
        for f in files:
            n += 1
            b += os.path.getsize(os.path.join(d, f))
    return n, b


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", default=SF, help="dataset under perfbench/data (default %(default)s)")
    ap.add_argument("--corrupt-digest", metavar="KEY",
                    help="self-test: expect a wrong digest for KEY ('state' for ingest)")
    a = ap.parse_args()
    t_start = time.time()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft", "SparkEntry.scala"),
                 os.path.join("tools", "check_correctness.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"perfbench: repository file {need} not found next to perfbench/")
    data = os.path.join(HERE, "data", a.sf)
    digests_file = os.path.join(HERE, "digests", f"{a.sf}.json")
    kind, keys, nominal = WORKLOADS[a.workload]
    passes = max(2, round(a.seconds / nominal))

    # the first run in a checkout may take 900 s because it builds
    launch, built = build(t_start + 840)
    deadline = t_start + (870 if built else DEADLINE_S)

    run_dir = os.path.join(HERE, "target", "runs",
                           f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    args = ["--kind", kind, "--data", data, "--out", os.path.join(run_dir, "out"),
            "--seed", str(a.seed), "--passes", str(passes), "--trace", str(a.trace),
            "--cycle", str(CYCLE), "--cores", str(len(os.sched_getaffinity(0)))]
    if kind == "queries":
        with open(digests_file) as f:
            expected = json.load(f)
        args += ["--keys", ",".join(keys)]
    else:
        cust = os.path.join(data, "customer.parquet")
        ingest.make_batches(cust, os.path.join(run_dir, "batches", "warm"), a.seed, 0,
                            1 + WARM_BATCHES)
        run_batches = ingest.make_batches(cust, os.path.join(run_dir, "batches", "run"),
                                          a.seed, 1, RUN_BATCHES)
        args += ["--batches", os.path.join(run_dir, "batches")]

    load0 = load_avg()
    stat0 = proc_stat()
    t0 = time.time()
    code, child_cpu = run_jvm(launch, args, run_dir, deadline)
    elapsed = time.time() - t0
    stat1 = proc_stat()
    if code != 0:
        with open(os.path.join(run_dir, "jvm.log"), errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"harness exited with {code}")
    out = os.path.join(run_dir, "out")
    with open(os.path.join(out, "result.json")) as f:
        result = json.load(f)
    result["workload"] = a.workload

    # correctness: every untimed result, plus every timed operation
    failures = [f"{o['kind']} {o['key']} pass {o['pass']}: {o['error']}"
                for o in result["setup_ops"] + result["ops"] if o["error"]]
    if kind == "queries":
        checked = len(keys)
        bad = check_queries(out, keys, expected, a.corrupt_digest)
        failures += [f"digest {k}: got {g} want {w}" for k, g, w in bad]
    else:
        applied = result["batches_applied"]
        want = ingest.expected_state(run_batches[:applied])
        if a.corrupt_digest == "state":
            want = want[1:]
        got = ingest.read_state(os.path.join(out, "check", "state"))
        checked = 1
        if got != want:
            failures.append(f"state after {applied} batches: {len(got)} rows, "
                            f"want {len(want)}")
        files, store_bytes = dir_stats(result["store"])
        change_bytes = sum(os.path.getsize(os.path.join(run_dir, "batches", "run",
                                                        f"b{i:05d}.parquet"))
                           for i in range(applied))
        result["write_amp"] = store_bytes / change_bytes
        result["store_files"] = files
    attempted = len(result["ops"]) + checked
    failed = min(attempted, len(failures))

    e2e, extra = end_to_end(result, kind)
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "sf": a.sf, "nproc": result["cores"], "commit": git_commit(),
        "timed_passes": len(result["passes"]), "load_ambient": load0, "other_cpu_frac": None,
        "ops": len(result["ops"]), "harness_s": round(elapsed, 3),
    }
    if stat0 and stat1 and stat1[1] > stat0[1]:
        hz = os.sysconf("SC_CLK_TCK")
        busy = (stat1[0] - stat0[0]) / hz
        cap = (stat1[1] - stat0[1]) / hz
        record["other_cpu_frac"] = round(max(0.0, busy - child_cpu) / cap, 4)
    for f in failures:
        log(f"FAILED {f}")
    print("run " + json.dumps(record, sort_keys=True))
    for name, (v, unit) in {**e2e, **extra}.items():
        print(f"{name} {v:.6g} {unit}")
    print(f"failed_frac {failed / attempted:.6g} ratio ({failed} of {attempted})")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.trace:
        with open(os.path.join(out, "spans.json")) as f:
            spans = json.load(f)
        layers.report(result, spans, out=sys.stdout)
        values = layers.layer_metrics(result, spans)
        listed = spec["per_layer"]
        keep = os.path.join(HERE, "target", "traces", f"{a.workload}-s{a.seed}")
        shutil.rmtree(keep, ignore_errors=True)
        os.makedirs(keep)
        with open(os.path.join(keep, "result.json"), "w") as f:
            json.dump(result, f)
        shutil.copy(os.path.join(out, "spans.json"), keep)
    else:
        values = {k: v for k, (v, _) in e2e.items()}
        listed = spec["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in listed}
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
