#!/usr/bin/env python3
"""Print the span table of a perfbench trace.

Usage:

    python3 tools/trace_table.py <trace.jsonl>

A traced benchmark run (`perfbench/run.py ... --trace 1`) writes its
records to `.bench_build/traces/<workload>-seed<n>.jsonl`. This prints
one line per span, children indented under their parent, with the Spark
work recorded inside it: layer, name, iteration, seconds, jobs, stages,
tasks, input MB and executor run/CPU seconds. A second table gives, for
each span directly under a timed operation (`workload/op`), the median
over the operations, and the operation's own median on its last line.
"""
import json
import statistics
import sys

COLUMNS = ("layer", "name", "iter", "seconds", "jobs", "stages", "tasks",
           "input_mb", "exec_run_s", "exec_cpu_s")


def row(span):
    s = span["spark"]
    return (span["seconds"], s["jobs"], s["stages"], s["tasks"],
            s["input_bytes"] / 1e6, s["executor_run_s"], s["executor_cpu_s"])


def fmt(label, name, it, vals):
    secs, jobs, stages, tasks, mb, run, cpu = vals
    return (f"{label:<22} {name:<14} {it:>4} {secs:>8.3f} {jobs:>5g} {stages:>6g} "
            f"{tasks:>5g} {mb:>8.1f} {run:>10.2f} {cpu:>10.2f}")


def header():
    return (f"{'layer':<22} {'name':<14} {'iter':>4} {'seconds':>8} {'jobs':>5} "
            f"{'stages':>6} {'tasks':>5} {'input_mb':>8} {'exec_run_s':>10} {'exec_cpu_s':>10}")


def main(path):
    with open(path) as fh:
        spans = [r for r in map(json.loads, fh) if r.get("type") == "span"]
    by_id = {s["id"]: s for s in spans}

    def depth(s):
        d = 0
        while s["parent"] in by_id:
            s, d = by_id[s["parent"]], d + 1
        return d

    print(header())
    for s in spans:
        label = "  " * depth(s) + s["layer"]
        print(fmt(label, s["name"], s.get("iteration", ""), row(s)))

    ops = [s for s in spans if s["layer"] == "workload" and s["name"] == "op"]
    if not ops:
        return
    op_ids = {s["id"] for s in ops}
    children = {}
    for s in spans:
        if s["parent"] in op_ids:
            children.setdefault((s["layer"], s["name"]), []).append(row(s))

    def median(rows):
        return tuple(statistics.median(col) for col in zip(*rows))

    # the op span records no Spark work of its own: its totals are its children's
    totals = []
    for op in ops:
        kids = [row(s) for s in spans if s["parent"] == op["id"]]
        totals.append((op["seconds"],) + tuple(sum(col) for col in list(zip(*kids))[1:]))
    print()
    print(f"median over {len(ops)} operations")
    print(header())
    for (layer, name), rows in children.items():
        print(fmt(layer, name, "", median(rows)))
    print(fmt("workload", "op", "", median(totals)))


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main(sys.argv[1])
