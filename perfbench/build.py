"""Build file of the benchmark: compiles the program's sources
(`src/main/scala`) together with the benchmark's own Scala files
(`perfbench/scala`) into `.bench_build/classes-<digest>`.

It calls the Scala compiler that ships among Spark's jars directly, so
the build needs no sbt, no network and writes nothing outside the
checkout. A build is reused while the sources' digest is unchanged.

    python3 perfbench/build.py        # build, print the classes dir
"""

import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path


class BuildError(Exception):
    pass


COMPILER = "scala-compiler-2.13.17.jar"


def spark_jars():
    """The jars of the Spark distribution: $SPARK_HOME, else the first
    distribution with the Scala compiler whose spark-submit is on PATH."""
    homes = [Path(os.environ["SPARK_HOME"])] if os.environ.get("SPARK_HOME") else [
        (Path(d) / "spark-submit").resolve().parent.parent
        for d in os.environ.get("PATH", "").split(os.pathsep) if (Path(d) / "spark-submit").exists()]
    for home in homes:
        if (home / "jars" / COMPILER).exists():
            return home / "jars"
    raise BuildError(f"no Spark distribution with {COMPILER}: set SPARK_HOME")


def _scala_files(d):
    return sorted(p for p in d.rglob("*.scala") if p.is_file())


def _digest(files, root):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(root)).encode())
        h.update(b"\0")
        h.update(f.read_bytes())
    return h.hexdigest()


def ensure(root):
    """Compile if needed. Returns (classes dir, digest of the program sources)."""
    root = Path(root)
    program = root / "src" / "main" / "scala"
    if not program.is_dir():
        raise BuildError(f"program sources not found under {program}")
    prog_files = _scala_files(program)
    bench_files = _scala_files(root / "perfbench" / "scala")
    if not prog_files or not bench_files:
        raise BuildError("no Scala sources to build")
    src_digest = _digest(prog_files, root)
    build_digest = _digest(prog_files + bench_files, root)
    out_root = root / ".bench_build"
    out = out_root / f"classes-{build_digest[:16]}"
    if (out / ".complete").exists():
        return out, src_digest
    jars = spark_jars()
    out_root.mkdir(exist_ok=True)
    for old in out_root.glob("classes-*"):
        shutil.rmtree(old, ignore_errors=True)
    tmp = out_root / f"classes-{build_digest[:16]}.tmp"
    tmp.mkdir()
    argfile = out_root / "scalac.args"
    argfile.write_text("\n".join(str(f) for f in prog_files + bench_files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-usejavacp", "-classpath", str(tmp), "-nowarn", "-d", str(tmp), f"@{argfile}"]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=out_root)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac failed with exit code {r.returncode}")
    (tmp / ".complete").write_text(build_digest + "\n")
    tmp.rename(out)
    return out, src_digest


if __name__ == "__main__":
    try:
        print(ensure(Path(__file__).resolve().parent.parent)[0])
    except BuildError as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(2)
