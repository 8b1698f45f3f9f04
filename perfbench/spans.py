#!/usr/bin/env python3
"""Summarize a traced run's span file (.bench_build/traces/<workload>-seed<n>.json).

    python3 perfbench/spans.py .bench_build/traces/board_slice-seed1.json
    python3 perfbench/spans.py .bench_build/traces/board_slice-seed1.json p27c_stream_neardup

Without a run name: one line per run span with its wall time, the Catalyst
time of its queries (analysis + optimization + planning) and that time's
share of the wall, and its SQL execution, job and stage counts. With a run
name: that run's SQL executions in start order, nested ones indented under
the execution they ran in, each with its wall time, Catalyst phases and job
count — the run's phase split.
"""
import json
import sys


def main():
    spans = json.load(open(sys.argv[1]))
    by_id = {s["id"]: s for s in spans}
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)

    def run_of(s):
        while s["parent"] != 0:
            s = by_id[s["parent"]]
        return s

    def catalyst_ms(s):
        a = s["attrs"]
        return a.get("analysis_ms", 0) + a.get("optimization_ms", 0) + a.get("planning_ms", 0)

    def count(run, kind):
        return sum(1 for s in spans if s["kind"] == kind and run_of(s) is run)

    runs = [s for s in spans if s["kind"] == "run"]
    if len(sys.argv) == 2:
        print(f"{'run':28s} {'wall_s':>8s} {'catalyst_s':>10s} {'share':>6s} {'sql':>4s} {'jobs':>5s} {'stages':>6s}")
        for r in runs:
            wall = (r["end"] - r["start"]) / 1e3
            cat = sum(catalyst_ms(s) for s in spans if run_of(s) is r) / 1e3
            print(f"{r['name']:28s} {wall:8.3f} {cat:10.3f} {cat / wall if wall else 0:6.1%} "
                  f"{count(r, 'sql'):4d} {count(r, 'job'):5d} {count(r, 'stage'):6d}")
        return
    run = next(r for r in runs if r["name"] == sys.argv[2])
    print(f"{'start_s':>7s} {'wall_s':>7s} {'anal_ms':>7s} {'opt_ms':>7s} {'plan_ms':>7s} {'jobs':>4s}  sql execution")

    def show(parent, depth):
        for s in sorted(children.get(parent["id"], []), key=lambda x: x["start"]):
            if s["kind"] != "sql":
                continue
            a = s["attrs"]
            jobs = sum(1 for c in children.get(s["id"], []) if c["kind"] == "job")
            print(f"{(s['start'] - run['start']) / 1e3:7.3f} {(s['end'] - s['start']) / 1e3:7.3f} "
                  f"{a.get('analysis_ms', 0):7.0f} {a.get('optimization_ms', 0):7.0f} "
                  f"{a.get('planning_ms', 0):7.0f} {jobs:4d}  {'  ' * depth}{s['name']}")
            show(s, depth + 1)
    show(run, 0)


if __name__ == "__main__":
    main()
