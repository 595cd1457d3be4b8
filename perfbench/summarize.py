#!/usr/bin/env python3
"""Per-layer summary of traced benchmark runs.

Usage (from the root of a checkout, after perfbench/run.py runs):

    python3 perfbench/summarize.py [--seed N] [workload ...]

For each workload with a traced run (--trace 1) in .bench_build/traces/,
prints every span name (layer.call) with its count, total and self time
(self = the span's own time minus the part its child spans cover, as
perfbench.Layers.spanTimes computes it) per timed operation, then the
run's per-layer metrics. When an untraced run (--trace 0) of the same
workload and seed exists, it also prints the tracing overhead: traced
read_p50_ms minus untraced read_p50_ms, over the reads both runs made.
"""
import argparse
import glob
import json
import os
import re
import statistics

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TRACES = os.path.join(ROOT, ".bench_build", "traces")


def load(workload, seed, trace):
    pat = os.path.join(TRACES, f"{workload}-seed{seed if seed is not None else '*'}-trace{trace}.json")
    files = sorted(glob.glob(pat), key=os.path.getmtime)
    if not files:
        return None
    with open(files[-1]) as f:
        return json.load(f)


def summarize(workload, seed):
    traced = load(workload, seed, 1)
    if traced is None:
        print(f"== {workload}: no traced run found")
        return
    rep = traced["report"]
    ops = traced["span_times"]["ops"]
    print(f"== {workload} (seed {rep['seed']}, {ops} timed operations)")
    print(f"  {'span':32s} {'count':>7s} {'total ms/op':>12s} {'self ms/op':>11s}")
    for name, (n, tot, slf) in sorted(traced["span_times"]["spans"].items(),
                                      key=lambda kv: -kv[1][2]):
        print(f"  {name:32s} {int(n):7d} {tot / max(1, ops):12.2f} {slf / max(1, ops):11.2f}")
    layer = re.compile(r"^(queries|spark|jvm|core|sources|plans|operators)\.")
    print("  per-layer metrics:")
    for k, v in rep["metrics"].items():
        if layer.match(k):
            print(f"    {k:34s} {v:12.3f}")
    untraced = load(workload, rep["seed"], 0)
    if untraced is None:
        print("  tracing overhead: no untraced run of the same seed found")
        return
    # the same seed issues the same reads in the same order, so compare
    # the reads both runs made (the traced run may go on for longer)
    t = [o["ms"] for o in traced["ops"] if o["kind"] == "read" and o["ok"]]
    u = [o["ms"] for o in untraced["ops"] if o["kind"] == "read" and o["ok"]]
    k = min(len(t), len(u))
    if k == 0:
        print("  tracing overhead: no successful reads to compare")
        return
    t50, u50 = statistics.median(t[:k]), statistics.median(u[:k])
    print(f"  tracing overhead over the first {k} reads: read_p50_ms {t50:.2f} traced"
          f" - {u50:.2f} untraced = {t50 - u50:+.2f} ms")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int)
    ap.add_argument("workloads", nargs="*",
                    default=["query-mix", "lookup-scan", "ingest-merge"])
    a = ap.parse_args()
    for w in a.workloads:
        summarize(w, a.seed)


if __name__ == "__main__":
    main()
