#!/usr/bin/env python3
"""One benchmark run of the graft library (see perfbench/README.md).

    python3 perfbench/run.py --workload explore --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark from source on first use
(perfbench/build.py), then runs one workload in a fresh JVM with Spark at
local[4] and prints, as the last line of stdout, one JSON object with the
keys correct, attempted, failed and metrics. `--trace 0` reports the
end-to-end metrics; `--trace 1` the per-layer ones and writes the spans
to .bench_build/traces/. Every run also leaves its full record, with the
run stamp, under .bench_build/results/. Everything the run writes stays
under .bench_build/ in the checkout.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("explore", "revisit", "curate", "ingest")
HEAP = "2g"
CHILD_TIMEOUT_S = 170
# Spark 4 on JDK 17 outside spark-submit needs these (JavaModuleOptions).
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def git_commit(root):
    if not (root / ".git").exists():
        return ""
    try:
        return subprocess.run(["git", "-C", str(root), "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return ""


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if a.seconds < 1:
        ap.error("--seconds must be at least 1")

    root = Path(__file__).resolve().parent.parent
    try:
        classes, src_digest = build.ensure(root)
        jars = build.spark_jars()
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2

    out = root / ".bench_build"
    run_dir = out / "run" / f"{a.workload}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    for d in ("results", "traces"):
        (out / d).mkdir(exist_ok=True)
    tag = f"{a.workload}-s{a.seed}-t{a.trace}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}"
    cpus = min(4, os.cpu_count() or 1)
    cmd = ["java", *ADD_OPENS, f"-Xmx{HEAP}", "-Xss4m",
           f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           f"-Dlog4j2.configurationFile={Path(__file__).resolve().parent / 'log4j2.properties'}",
           "-cp", f"{classes}:{jars}/*", "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--run-dir", str(run_dir),
           "--result-file", str(out / "results" / f"{tag}.json"),
           "--trace-file", str(out / "traces" / f"{tag}.jsonl"),
           "--cpus", str(cpus), "--xmx", HEAP,
           "--commit", git_commit(root) or "none", "--src-digest", src_digest]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=run_dir,
                            start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        print(f"perfbench: run exceeded {CHILD_TIMEOUT_S} s and was killed", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    lines = stdout.rstrip("\n").split("\n")
    try:
        result = json.loads(lines[-1])
        ok = set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, IndexError):
        ok = False
    if proc.returncode != 0 or not ok:
        sys.stderr.write(stdout)
        print(f"perfbench: run failed (exit code {proc.returncode})", file=sys.stderr)
        return proc.returncode or 1
    sys.stdout.write("\n".join(lines[:-1]) + "\n")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
