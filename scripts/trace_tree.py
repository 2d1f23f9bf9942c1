#!/usr/bin/env python3
"""Print a perfbench trace as its span tree, with the Spark jobs under each span.

Usage: trace_tree.py TRACE.jsonl [--depth N]

TRACE.jsonl is what `perfbench/run.py --trace 1` writes to
.bench_build/traces/: one line per span (span, name, parent, start_ms,
end_ms) and one per Spark job (job, span, start_ms, end_ms, stages,
tasks). Each tree line is a span with its wall time and, summed over the
jobs attributed to it or to any span below it: the job count, the job
time (end - start of each job, summed) and the task count. After the tree,
one summary line per request name (a root span such as `op.batch`) lists
the job count of each of its requests, in order.

  --depth N   print spans down to depth N (roots are depth 0)
"""
import argparse
import json
from collections import defaultdict


def load(path):
    spans, jobs = {}, []
    with open(path, encoding="utf-8") as f:
        for line in f:
            if not line.strip():
                continue
            r = json.loads(line)
            if "span" in r and "job" not in r:
                spans[r["span"]] = r
            elif "job" in r:
                jobs.append(r)
    return spans, jobs


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("trace")
    ap.add_argument("--depth", type=int, default=99)
    a = ap.parse_args()

    spans, jobs = load(a.trace)
    children = defaultdict(list)
    for s in spans.values():
        children[s["parent"]].append(s["span"])
    for c in children.values():
        c.sort(key=lambda i: spans[i]["start_ms"])

    # own totals: (jobs, job ms, tasks) of the jobs attributed to the span
    own = defaultdict(lambda: [0, 0.0, 0])
    unattributed = 0
    for j in jobs:
        if j["span"] is None or j["span"] not in spans:
            unattributed += 1
            continue
        t = own[j["span"]]
        t[0] += 1
        t[1] += j["end_ms"] - j["start_ms"]
        t[2] += j["tasks"]

    total = {}

    def fold(i):
        t = list(own[i])
        for c in children[i]:
            ct = fold(c)
            t = [t[0] + ct[0], t[1] + ct[1], t[2] + ct[2]]
        total[i] = t
        return t

    roots = children[0]
    for r in roots:
        fold(r)

    print(f"{'span':<44} {'wall_ms':>9} {'jobs':>5} {'job_ms':>9} {'tasks':>6}")

    def show(i, depth):
        s = spans[i]
        n, ms, tasks = total[i]
        label = "  " * depth + s["name"]
        print(f"{label:<44} {s['end_ms'] - s['start_ms']:>9.1f} {n:>5} {ms:>9.1f} {tasks:>6}")
        if depth < a.depth:
            for c in children[i]:
                show(c, depth + 1)

    per_request = defaultdict(list)
    for r in roots:
        per_request[spans[r]["name"]].append(total[r][0])
        show(r, 0)

    print()
    for name, counts in per_request.items():
        print(f"{name}: {len(counts)} requests, jobs each: {' '.join(map(str, counts))}")
    if unattributed:
        print(f"{unattributed} jobs attributed to no span")


if __name__ == "__main__":
    main()
