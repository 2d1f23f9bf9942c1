#!/usr/bin/env python3
"""Count code lines under src/main, per file and in total.

A code line is a non-blank line that, once stripped of leading
whitespace, does not start with `//`, `*` or `/*`; so comments and
scaladoc bodies are not counted. Lines that mix code and a trailing
comment count as code.

Usage: python3 scripts/loc.py [ROOT]
  ROOT  repository root (default: the parent of this script's folder)
"""
import argparse
import pathlib

SUFFIXES = {".scala", ".java"}
COMMENT_STARTS = ("//", "*", "/*")


def code_lines(path):
    n = 0
    with open(path, encoding="utf-8") as f:
        for line in f:
            s = line.strip()
            if s and not s.startswith(COMMENT_STARTS):
                n += 1
    return n


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("root", nargs="?",
                    default=pathlib.Path(__file__).resolve().parent.parent)
    args = ap.parse_args()
    src = pathlib.Path(args.root) / "src" / "main"
    counts = sorted((str(p.relative_to(args.root)), code_lines(p))
                    for p in src.rglob("*") if p.suffix in SUFFIXES)
    total = sum(n for _, n in counts)
    for name, n in counts:
        print(f"{n:7d}  {name}")
    print(f"{total:7d}  total ({len(counts)} files)")


if __name__ == "__main__":
    main()
