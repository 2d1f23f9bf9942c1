#!/usr/bin/env python3
"""Steadiness and comparison of benchmark results (see perfbench/README.md).

    # two sets of runs of this checkout, then the per-metric verdict
    python3 perfbench/steady.py run --workloads explore,ingest --runs 10

    # compare two sets of saved run records (e.g. parent against change)
    python3 perfbench/steady.py compare A/*.json -- B/*.json

    # traced layer report of each workload, with the tracing overhead
    python3 perfbench/steady.py overhead --seed 1

For each workload and end-to-end metric it prints each set's median,
first and third quartile and spread ((q3 - q1) / median, from
statistics.quantiles(values, n=4)), and whether the sets agree: each
set's spread within the metric's bound, and the second set's median
within the bound of the first in either direction (a set that reads
better is drift too). It refuses to compare records
whose stamps differ in cpus, heap or input sizes ("sf").
"""

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
STAMP_KEYS = ("cpus", "xmx", "max_heap_bytes", "sf")


def bench_spec():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def quartiles(values):
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def check_comparable(a, b):
    """Raise SystemExit when two run records must not be compared."""
    for k in STAMP_KEYS:
        if a["stamp"].get(k) != b["stamp"].get(k):
            raise SystemExit(f"refusing to compare: stamps differ in {k!r}: "
                             f"{a['stamp'].get(k)!r} vs {b['stamp'].get(k)!r}")


def by_workload(recs):
    out = {}
    for r in recs:
        if r["stamp"]["trace"] is False:
            out.setdefault(r["stamp"]["workload"], []).append(r)
    return out


def verdict(set_a, set_b):
    """Print the table; return True when every metric agrees within its bound."""
    spec = bench_spec()
    if set_a and set_b:
        check_comparable(set_a[0], set_b[0])
    a, b = by_workload(set_a), by_workload(set_b)
    ok = True
    print(f"{'workload':9} {'metric':18} {'median A':>12} {'q1..q3 A':>25} {'spread':>7}   "
          f"{'median B':>12} {'q1..q3 B':>25} {'spread':>7}  {'B/A-1':>7} bound  verdict")
    for w in sorted(set(a) | set(b)):
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            va = [r["result"]["metrics"][name]["value"] for r in a.get(w, [])]
            vb = [r["result"]["metrics"][name]["value"] for r in b.get(w, [])]
            if not va or not vb:
                print(f"{w:9} {name:18} missing in one set")
                ok = False
                continue
            qa, qb = quartiles(va), quartiles(vb)
            sa, sb = (qa[2] - qa[0]) / qa[1], (qb[2] - qb[0]) / qb[1]
            change = qb[1] / qa[1] - 1
            steady = sa <= bound and sb <= bound
            agree = abs(change) <= bound and steady
            ok &= agree
            print(f"{w:9} {name:18} {qa[1]:12.4f} {qa[0]:12.4f}..{qa[2]:<12.4f} {sa:7.3f}   "
                  f"{qb[1]:12.4f} {qb[0]:12.4f}..{qb[2]:<12.4f} {sb:7.3f}  {change:+7.3f} {bound:5.2f}  "
                  f"{'agree' if agree else 'DIFFER' if steady else 'UNSTEADY'}")
        fa = sum(r["result"]["failed"] for r in a.get(w, []) + b.get(w, []))
        if fa:
            print(f"{w:9} {fa} failed operations across the runs")
            ok = False
    print("sets agree within the benchmark's bounds" if ok else "sets do NOT agree")
    return ok


def one_run(workload, seed, seconds, trace=0):
    """One run.py run; returns its saved record and its stdout."""
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"run failed: {' '.join(cmd)}")
    newest = max((ROOT / ".bench_build" / "results").glob(f"{workload}-s{seed}-t{trace}-*.json"),
                 key=lambda f: f.stat().st_mtime)
    return json.loads(newest.read_text()), p.stdout


def cmd_run(a):
    spec = bench_spec()
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    sets = []
    for s in range(2):
        recs = []
        for w in workloads:
            for i in range(a.runs):
                t0 = time.time()
                r = one_run(w, a.seed + i, spec["run_seconds"])[0]
                recs.append(r)
                vals = " ".join(f"{k}={v['value']:.4g}" for k, v in r["result"]["metrics"].items())
                print(f"set {'AB'[s]} {w} seed {a.seed + i}: {vals} ({time.time() - t0:.1f} s)",
                      flush=True)
        sets.append(recs)
    out = ROOT / ".bench_build" / "steady" / time.strftime("%Y%m%dT%H%M%S")
    out.mkdir(parents=True)
    for name, recs in zip("AB", sets):
        (out / f"set{name}.json").write_text(json.dumps(recs, indent=1))
    print(f"records saved under {out}")
    return 0 if verdict(*sets) else 1


def cmd_overhead(a):
    """Untraced then traced run of each workload on one seed: the traced
    run's layer report, and its mean operation latency over the untraced
    run's (the tracing overhead)."""
    spec = bench_spec()
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    for w in workloads:
        plain, _ = one_run(w, a.seed, spec["run_seconds"], trace=0)
        traced, report = one_run(w, a.seed, spec["run_seconds"], trace=1)
        check_comparable(plain, traced)
        base = statistics.mean(plain["op_ms"])
        with_trace = traced["result"]["metrics"]["trace.op_mean_ms"]["value"]
        print("\n".join(line for line in report.splitlines() if line.startswith("#")))
        print(f"# tracing overhead on {w}: {with_trace / base - 1:+.3f} (mean operation "
              f"{with_trace:.1f} ms traced, {base:.1f} ms untraced, seed {a.seed}; "
              f"{len(plain['op_ms'])} untraced operations)\n")
    return 0


def cmd_compare(a):
    def expand(paths):
        recs = []
        for p in paths:
            d = json.loads(Path(p).read_text())
            recs.extend(d if isinstance(d, list) else [d])
        return recs
    if "--" not in a.files:
        raise SystemExit("usage: compare A-files... -- B-files...")
    i = a.files.index("--")
    set_a, set_b = expand(a.files[:i]), expand(a.files[i + 1:])
    for recs in (set_a, set_b):
        for r in recs[1:]:
            check_comparable(recs[0], r)
    return 0 if verdict(set_a, set_b) else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run", help="two sets of runs of this checkout, then the verdict")
    r.add_argument("--workloads", default="", help="comma-separated; default: all in BENCHMARK.json")
    r.add_argument("--runs", type=int, default=10, help="runs per workload and set, one seed each")
    r.add_argument("--seed", type=int, default=1, help="first seed")
    c = sub.add_parser("compare", help="compare two sets of saved run records")
    c.add_argument("files", nargs=argparse.REMAINDER)
    o = sub.add_parser("overhead", help="traced layer report and tracing overhead")
    o.add_argument("--workloads", default="", help="comma-separated; default: all in BENCHMARK.json")
    o.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    return {"run": cmd_run, "compare": cmd_compare, "overhead": cmd_overhead}[a.cmd](a)


if __name__ == "__main__":
    sys.exit(main())
