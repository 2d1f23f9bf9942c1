#!/usr/bin/env python3
"""Interleaved parent/change pairs of the repo benchmark.

    python3 scripts/bench_pairs.py --parent ../parent --change . \\
        --workloads ingest,revisit --pairs 10 --seed 401 --out pairs/

    python3 scripts/bench_pairs.py --summarize pairs/

Runs `perfbench/run.py --trace 0` of each checkout (each builds from its
own sources) on seeds seed, seed+1, ...: pair i runs both sides on seed
+ i, the parent first in even pairs and the change first in odd ones, so
a drift of the host's speed does not favour one side. Every run's full
record is saved under --out as `<side>-<workload>-s<seed>.json`.

For each workload and end-to-end metric of BENCHMARK.json it prints both
sides' median and quartiles, the change's median over the parent's, how
many pairs the change won (ties count for neither), and whether the
median gap exceeds the parent's q3 - q1. It refuses records whose stamps
differ in cpus, heap or input sizes ("sf"), and exits 1 when a run
failed or an operation failed.
"""

import argparse
import json
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "perfbench"))
from steady import bench_spec, check_comparable, quartiles  # noqa: E402

SIDES = ("parent", "change")


def one_run(checkout, workload, seed, seconds):
    """One untraced run of `checkout`'s benchmark; returns its record."""
    cmd = [sys.executable, str(checkout / "perfbench" / "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                         cwd=checkout)
    out, err = p.communicate(timeout=900)
    if p.returncode != 0:
        sys.stderr.write(err[-4000:])
        raise SystemExit(f"run failed: {' '.join(cmd)}")
    # run.py names its record after the workload, seed and its own pid
    rec = next((checkout / ".bench_build" / "results").glob(
        f"{workload}-s{seed}-t0-*-{p.pid}.json"))
    return json.loads(rec.read_text())


def summarize(records):
    """Print the per-metric table; return False when any operation failed."""
    spec = bench_spec()
    base = records[0][2]
    for _, _, r in records[1:]:
        check_comparable(base, r)
    ok = True
    for w in sorted({w for w, _, _ in records}):
        runs = {(side, r["stamp"]["seed"]): r for ww, side, r in records if ww == w}
        seeds = sorted(s for side, s in runs if side == "parent" and ("change", s) in runs)
        failed = {side: sum(r["result"]["failed"] for (sd, _), r in runs.items() if sd == side)
                  for side in SIDES}
        print(f"\n{w}: {len(seeds)} pairs (seeds {seeds[0]}-{seeds[-1]}), failed operations "
              f"parent {failed['parent']}, change {failed['change']}")
        ok &= not any(failed.values())
        print(f"  {'metric':18} {'parent median':>13} {'q1..q3':>21}   {'change median':>13} "
              f"{'q1..q3':>21}  {'ratio':>7}  wins  gap > parent IQR")
        for m in spec["end_to_end"]:
            name, lower = m["name"], m["better"] == "lower"
            va = [runs[("parent", s)]["result"]["metrics"][name]["value"] for s in seeds]
            vb = [runs[("change", s)]["result"]["metrics"][name]["value"] for s in seeds]
            qa, qb = quartiles(va), quartiles(vb)
            wins = sum((b < a) if lower else (b > a) for a, b in zip(va, vb))
            gap = qa[1] - qb[1] if lower else qb[1] - qa[1]
            print(f"  {name:18} {qa[1]:13.4f} {qa[0]:10.4f}..{qa[2]:<10.4f}   {qb[1]:13.4f} "
                  f"{qb[0]:10.4f}..{qb[2]:<10.4f}  {qb[1] / qa[1]:7.3f}  {wins:2d}/{len(seeds)}  "
                  f"{'yes' if gap > qa[2] - qa[0] else 'no'} ({gap:+.4f} vs {qa[2] - qa[0]:.4f})")
    return ok


def load(out):
    recs = []
    for f in sorted(out.glob("*-*-s*.json")):
        side, w = f.name.split("-")[:2]
        recs.append((w, side, json.loads(f.read_text())))
    if not recs:
        raise SystemExit(f"no records under {out}")
    return recs


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", type=Path, help="checkout of the parent commit")
    ap.add_argument("--change", type=Path, help="checkout of the change")
    ap.add_argument("--workloads", default="", help="comma-separated; default: all in BENCHMARK.json")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1, help="seed of the first pair")
    ap.add_argument("--out", type=Path, help="directory for the run records")
    ap.add_argument("--summarize", type=Path, help="only print the table of saved records")
    a = ap.parse_args()
    if a.summarize:
        return 0 if summarize(load(a.summarize)) else 1
    if not (a.parent and a.change and a.out):
        ap.error("--parent, --change and --out are required unless --summarize is given")
    spec = bench_spec()
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    dirs = {"parent": a.parent.resolve(), "change": a.change.resolve()}
    a.out.mkdir(parents=True, exist_ok=True)
    records = []
    for i in range(a.pairs):
        seed = a.seed + i
        for w in workloads:
            for side in (SIDES if i % 2 == 0 else SIDES[::-1]):
                t0 = time.time()
                r = one_run(dirs[side], w, seed, spec["run_seconds"])
                if records:
                    check_comparable(records[0][2], r)
                (a.out / f"{side}-{w}-s{seed}.json").write_text(json.dumps(r, indent=1))
                records.append((w, side, r))
                vals = " ".join(f"{k}={v['value']:.4g}" for k, v in r["result"]["metrics"].items())
                print(f"pair {i + 1} {w} seed {seed} {side}: {vals} failed={r['result']['failed']} "
                      f"({time.time() - t0:.0f} s)", flush=True)
    print(f"records saved under {a.out}")
    return 0 if summarize(records) else 1


if __name__ == "__main__":
    sys.exit(main())
