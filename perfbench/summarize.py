#!/usr/bin/env python3
"""Compact workload profile from the benchmark's per-operation side files.

Each traced run writes one JSONL row per query, micro-batch or ingest
batch to .bench_build/profiles/<workload>-s<seed>-t1.jsonl. This prints,
per workload, where the time goes: the phase split of each operation and
the share of Spark job time taken by each engine layer.

Usage: python3 perfbench/summarize.py [profile.jsonl ...]
"""
import collections
import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
PROFILES = os.path.join(os.path.dirname(HERE), ".bench_build", "profiles")

PHASES = {
    "catalog": ["build_ms", "plan_ms", "exec_ms", "reclaim_ms"],
    "ingest-dedup": ["exact_ms", "near_ms", "read_ms"],
}


def shares(totals):
    s = sum(totals.values())
    return {k: v / s for k, v in totals.items()} if s > 0 else {}


def fmt(d):
    return " ".join(f"{k} {100 * v:.0f}%" for k, v in sorted(d.items(), key=lambda kv: -kv[1]))


def profile(workload, rows):
    """Phase shares, job-time shares by layer and the dominant of each."""
    phase_keys = PHASES["catalog"] if workload.startswith("catalog") else PHASES.get(workload, [])
    phases = collections.Counter()
    layers = collections.Counter()
    jobs = 0
    for r in rows:
        for k in phase_keys:
            phases[k[:-3]] += r.get(k, 0)
        for k, v in r.get("duration_ms", {}).items():
            if k != "triggerExecution":
                phases[k] += v
        for k, v in r.get("layer_job_ms", {}).items():
            layers[k] += v
        jobs += r.get("jobs", 0)
    wall = sum(r.get("wall_ms", 0) for r in rows)
    slot_ms = sum(r.get("wall_ms", 0) * r.get("slots", 0) for r in rows)
    return {"ops": len(rows), "jobs_per_op": jobs / max(1, len(rows)),
            "phases": shares(phases), "layers": shares(layers),
            "driver_share": sum(r.get("gap_ms", 0) for r in rows) / wall if wall else None,
            "slot_fill": sum(r.get("task_ms", 0) for r in rows) / slot_ms if slot_ms else None}


def load(paths):
    by = collections.defaultdict(list)
    for p in paths:
        with open(p) as f:
            for line in f:
                if line.strip():
                    r = json.loads(line)
                    by[r["workload"]].append(r)
    return by


def main():
    paths = sys.argv[1:] or sorted(glob.glob(os.path.join(PROFILES, "*-t1.jsonl")))
    if not paths:
        sys.exit("summarize: no traced profiles (run with --trace 1 first)")
    profiles = {w: profile(w, rows) for w, rows in sorted(load(paths).items())}
    for w, p in profiles.items():
        print(f"{w}: {p['ops']} ops, {p['jobs_per_op']:.1f} jobs/op")
        print(f"  phases: {fmt(p['phases'])}")
        print(f"  job time by layer: {fmt(p['layers'])}")
        if p["driver_share"] is not None:
            print(f"  driver-side (no Spark job running): {100 * p['driver_share']:.0f}% of query wall, "
                  f"slot fill {p['slot_fill']:.2f}")
    a, b = profiles.get("catalog-sf0.1"), profiles.get("catalog-x10")
    if a and b:
        # the floor (build, sources, planning, submission: time with no job
        # running) against execution (task time filling the slots)
        def dominant(p):
            return "driver-side floor" if p["driver_share"] > p["slot_fill"] else "execution"
        verdict = "differ" if dominant(a) != dominant(b) else "do NOT differ"
        print(f"catalog-sf0.1 is dominated by {dominant(a)}, catalog-x10 by {dominant(b)}: "
              f"the dominant layers {verdict}")


if __name__ == "__main__":
    main()
