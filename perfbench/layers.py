"""Per-layer analysis of a traced run: span self-times and Spark counters.

A span's self time is its duration minus the durations of its children.
Spark jobs are attributed to the innermost span whose wall-clock interval
holds the job's submission time.
"""

import json
import os
import statistics


def load_jsonl(path):
    if not os.path.exists(path):
        return []
    with open(path, encoding="utf-8") as f:
        return [json.loads(line) for line in f if line.strip()]


def self_times(spans):
    """{span id: self ms}."""
    child = {}
    for s in spans:
        if s["parent"]:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["dur_ms"]
    return {s["id"]: s["dur_ms"] - child.get(s["id"], 0.0) for s in spans}


def layer_table(spans):
    """{name: {calls, total_ms, self_ms, median_ms}} over all spans."""
    own = self_times(spans)
    by = {}
    for s in spans:
        by.setdefault(s["name"], []).append(s)
    return {name: {"calls": len(ss),
                   "total_ms": sum(s["dur_ms"] for s in ss),
                   "self_ms": sum(own[s["id"]] for s in ss),
                   "median_ms": statistics.median(s["dur_ms"] for s in ss)}
            for name, ss in by.items()}


def attribute_jobs(spans, jobs, names):
    """Sum job counters per (span name, root span id) for spans named in `names`.

    Returns {name: [per-root dict of counters]} so callers can take a median
    over iterations.
    """
    cand = [s for s in spans if s["name"] in names]
    per = {}
    for j in jobs:
        best = None
        for s in cand:
            if s["start_ms"] <= j["time_ms"] <= s["start_ms"] + s["dur_ms"] + 1:
                if best is None or s["dur_ms"] < best["dur_ms"]:
                    best = s
        if best is None:
            continue
        acc = per.setdefault(best["id"], {"name": best["name"], "jobs": 0, "tasks": 0,
                                          "cpu_ns": 0, "gc_ms": 0, "shuffle_write": 0,
                                          "spill": 0, "output": 0})
        acc["jobs"] += 1
        for k in ("tasks", "cpu_ns", "gc_ms", "shuffle_write", "spill", "output"):
            acc[k] += j[k]
    out = {n: [] for n in names}
    for s in cand:
        out[s["name"]].append(per.get(s["id"], {"jobs": 0, "tasks": 0, "cpu_ns": 0,
                                                "gc_ms": 0, "shuffle_write": 0,
                                                "spill": 0, "output": 0}))
    return out


def spark_summary(records):
    """Median per-span Spark counters in report units; {} without spans."""
    if not records:
        return {}

    def med(key, scale):
        return statistics.median(r[key] for r in records) * scale

    return {"task_cpu_s": med("cpu_ns", 1e-9), "gc_s": med("gc_ms", 1e-3),
            "shuffle_write_mb": med("shuffle_write", 1e-6),
            "spill_mb": med("spill", 1e-6), "output_mb": med("output", 1e-6),
            "jobs": med("jobs", 1.0)}


def print_table(table, wall_ms, out):
    """Human-readable per-layer table; shares are of `wall_ms`."""
    out.write("%-16s %7s %12s %12s %7s\n" % ("layer", "calls", "total_ms", "self_ms",
                                            "self%"))
    for name, t in sorted(table.items(), key=lambda kv: -kv[1]["self_ms"]):
        share = 100.0 * t["self_ms"] / wall_ms if wall_ms else 0.0
        out.write("%-16s %7d %12.1f %12.1f %6.1f%%\n" % (name, t["calls"], t["total_ms"],
                                                      t["self_ms"], share))
