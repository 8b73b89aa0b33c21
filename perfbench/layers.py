#!/usr/bin/env python3
"""Layer report for a traced benchmark run.

Usage: python3 perfbench/layers.py [TRACE_DIR ...]

Each TRACE_DIR holds the `result.json` and `spans.json` a traced run kept
(`run.py --trace 1` keeps them under perfbench/target/traces/). Per
workload and layer it prints self time and counts per traced pass, how much
of the traced wall the layers account for, and the tracing overhead.

A span's self time is its duration minus the part its children cover. The
layer of a span is the part of its name before the first dot: `operators`
(the query function call, i.e. the build), `plans` (analysis, optimization
and planning phases), `exec` (the noop write), `cdc` (CdcStore calls) and
`bench` (the harness itself: passes, op brackets and cache isolation)."""
import glob
import json
import os
import statistics
import sys


def self_times(spans):
    """{span id: self seconds}, children clipped to their parent."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        cover = sorted((max(c["start"], s["start"]), min(c["end"], s["end"]))
                       for c in kids.get(s["id"], []))
        covered, reach = 0, s["start"]
        for a, b in cover:
            a = max(a, reach)
            if b > a:
                covered += b - a
                reach = b
        out[s["id"]] = max(0, s["end"] - s["start"] - covered) / 1e9
    return out


def _sum(spans, name, count=None, selfs=None):
    picked = [s for s in spans if s["name"] == name]
    if count:
        return sum(s["counts"].get(count, 0.0) for s in picked)
    return sum(selfs[s["id"]] for s in picked)


def _traced(result, spans):
    """The traced passes, their count (at least 1), their spans and the
    spans' self times."""
    traced = [p for p in result["passes"] if p["traced"]]
    ids = {p["pass"] for p in traced}
    spans = [s for s in spans if s["pass"] in ids]
    return traced, max(1, len(traced)), spans, self_times(spans)


def layer_metrics(result, spans):
    """Per-layer metrics, per traced pass, from one traced run."""
    traced, n, spans, selfs = _traced(result, spans)
    plain = [p for p in result["passes"] if not p["traced"]]
    cores = result["cores"]

    def per_pass(v):
        return v / n

    def total(count):
        return sum(s["counts"].get(count, 0.0) for s in spans)

    exec_wall = sum((s["end"] - s["start"]) / 1e9 for s in spans if s["name"] == "exec.write")
    exec_tasksec = _sum(spans, "exec.write", "tasksec")
    reads = [s for s in spans if s["name"] == "bench.read"]
    max_stage = {}
    for s in spans:
        if s["name"] == "exec.write":
            max_stage[s["pass"]] = max(max_stage.get(s["pass"], 0.0),
                                       s["counts"].get("max_stage_tasksec", 0.0))
    m = {
        "session.start_s": result["setup"]["session_s"],
        "sources.register_s": result["setup"]["register_s"],
        "sources.schema_jobs": per_pass(total("schema_jobs")),
        "operators.build_s": per_pass(_sum(spans, "operators.build", selfs=selfs)),
        "operators.build_jobs": per_pass(_sum(spans, "operators.build", "jobs")),
        "operators.build_tasksec": per_pass(_sum(spans, "operators.build", "tasksec")),
        "operators.checkpoints": per_pass(total("checkpoints")),
        "plans.analysis_s": per_pass(_sum(spans, "plans.analysis", selfs=selfs)),
        "plans.optimization_s": per_pass(_sum(spans, "plans.optimization", selfs=selfs)),
        "plans.planning_s": per_pass(_sum(spans, "plans.planning", selfs=selfs)),
        "plans.exchanges": per_pass(total("exchanges")),
        "exec.run_s": per_pass(_sum(spans, "exec.write", selfs=selfs)),
        "exec.jobs": per_pass(_sum(spans, "exec.write", "jobs")),
        "exec.stages": per_pass(_sum(spans, "exec.write", "stages")),
        "exec.tasks": per_pass(_sum(spans, "exec.write", "tasks")),
        "exec.tasksec": per_pass(exec_tasksec),
        "exec.idle_frac": 1 - exec_tasksec / (exec_wall * cores) if exec_wall else 0.0,
        "exec.max_stage_tasksec": statistics.mean(max_stage.values()) if max_stage else 0.0,
        "exec.shuffle_read_bytes": per_pass(_sum(spans, "exec.write", "shuffle_read_bytes")),
        "exec.shuffle_write_bytes": per_pass(_sum(spans, "exec.write", "shuffle_write_bytes")),
        "exec.spill_bytes": per_pass(total("spill_bytes")),
        "cdc.append_s": per_pass(_sum(spans, "cdc.append", selfs=selfs)),
        "cdc.attach_s": per_pass(_sum(spans, "cdc.attach", selfs=selfs)),
        "cdc.resolve_s": per_pass(_sum(spans, "cdc.resolve", selfs=selfs)),
        "cdc.compact_s": per_pass(_sum(spans, "cdc.compact", selfs=selfs)),
        "cdc.segments": (sum(s["counts"].get("segments", 0.0) for s in reads) / len(reads)
                         if reads else 0.0),
        "cdc.bytes_written": per_pass(sum(s["counts"].get("output_bytes", 0.0) for s in spans
                                          if s["name"] in ("cdc.append", "cdc.compact"))),
        "cdc.files_written": result.get("store_files", 0) / max(1, len(result["passes"])),
        "jvm.gc_s": statistics.mean(p["gc_s"] for p in traced) if traced else 0.0,
        "jvm.gc_count": statistics.mean(p["gc_count"] for p in traced) if traced else 0.0,
        "jvm.persisted_rdds": per_pass(total("persisted_rdds")),
        "jvm.local_dir_bytes": result["local_dir_bytes"],
        "bench.isolate_s": per_pass(_sum(spans, "bench.isolate", selfs=selfs)),
    }
    wall = sum(p["wall"] for p in traced)
    harness = sum(selfs[s["id"]] for s in spans
                  if s["name"] in ("bench.pass", "bench.query", "bench.append",
                                   "bench.read", "bench.compact"))
    m["trace.covered_frac"] = (sum(selfs.values()) - harness) / wall if wall else 0.0
    if traced and plain:
        m["trace.overhead_frac"] = (statistics.median(p["wall"] for p in traced)
                                    / statistics.median(p["wall"] for p in plain) - 1)
    else:
        m["trace.overhead_frac"] = 0.0
    return m


def layer_table(result, spans):
    """Rows of (layer, self s per pass, {count: per pass}) for the report."""
    traced, n, spans, selfs = _traced(result, spans)
    rows = {}
    for s in spans:
        layer = s["name"].split(".")[0]
        t, counts = rows.setdefault(layer, [0.0, {}])
        rows[layer][0] = t + selfs[s["id"]]
        for k, v in s["counts"].items():
            counts[k] = max(counts.get(k, 0.0), v) if k.startswith("max_") \
                else counts.get(k, 0.0) + v
    wall = sum(p["wall"] for p in traced) / n
    return wall, [(k, v[0] / n, {c: x if c.startswith("max_") else x / n
                                  for c, x in sorted(v[1].items())})
                  for k, v in sorted(rows.items(), key=lambda kv: -kv[1][0])]


def report(result, spans, out=sys.stdout):
    wall, rows = layer_table(result, spans)
    m = layer_metrics(result, spans)
    print(f"workload {result['workload']}: traced pass wall {wall:.3f} s", file=out)
    for layer, t, counts in rows:
        extra = " ".join(f"{k}={v:.4g}" for k, v in counts.items())
        print(f"  {layer:10s} self {t:8.3f} s  {100 * t / wall if wall else 0:5.1f}%  {extra}",
              file=out)
    print(f"  layers cover {100 * m['trace.covered_frac']:.1f}% of the traced wall "
          f"(the rest is harness bookkeeping); tracing overhead "
          f"{100 * m['trace.overhead_frac']:+.1f}% of an untraced pass", file=out)


def main(dirs):
    if not dirs:
        dirs = sorted(glob.glob(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                             "target", "traces", "*")))
    if not dirs:
        sys.exit("no traces: run `python3 perfbench/run.py --workload W --seed N "
                 "--seconds S --trace 1` first")
    for d in dirs:
        with open(os.path.join(d, "result.json")) as f:
            result = json.load(f)
        with open(os.path.join(d, "spans.json")) as f:
            spans = json.load(f)
        report(result, spans)


if __name__ == "__main__":
    main(sys.argv[1:])
