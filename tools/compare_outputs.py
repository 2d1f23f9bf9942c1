#!/usr/bin/env python3
"""Compare two graft.Verify output dirs row by row (schema + sorted rows).

Usage: python3 tools/compare_outputs.py PARENT_DIR CHANGE_DIR [--expect-differ a,b]

Each catalog row is a subdirectory of parquet files written by
`graft.Verify`. For every row present in either dir this checks that both
sides have it, that the column names and types agree, and that the rows
agree as a multiset (sorted on their printed form, so row order does not
matter and floats must match exactly). Rows named in --expect-differ are
reported but do not fail the run (e.g. randomized sketch rollups). Exits
1 on any other difference, 0 otherwise.
"""
import argparse
import json
import pathlib
import sys

import duckdb


def rows_of(d):
    return {p.name for p in pathlib.Path(d).iterdir()
            if p.is_dir() and any(p.glob("*.parquet"))}


def read(con, d, name):
    rel = con.sql(f"SELECT * FROM read_parquet('{d}/{name}/*.parquet')")
    schema = [(c, str(t)) for c, t in zip(rel.columns, rel.types)]
    return schema, sorted(repr(r) for r in rel.fetchall())


def errors_of(d):
    p = pathlib.Path(d) / "errors.json"
    return json.loads(p.read_text()) if p.exists() else {}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--expect-differ", default="",
                    help="comma-separated rows allowed to differ")
    a = ap.parse_args()
    expected = {n for n in a.expect_differ.split(",") if n}
    con = duckdb.connect()
    left, right = rows_of(a.parent), rows_of(a.change)
    same, unexpected, tolerated = 0, [], []
    for name in sorted(left | right):
        if name not in left or name not in right:
            why = f"only in {'parent' if name in left else 'change'}"
        else:
            ls, lr = read(con, a.parent, name)
            rs, rr = read(con, a.change, name)
            if ls != rs:
                why = f"schema {ls} vs {rs}"
            elif lr != rr:
                diff = sorted(set(lr) ^ set(rr))
                why = (f"rows differ ({len(lr)} vs {len(rr)} rows; "
                       f"first differing: {diff[0][:200] if diff else 'multiplicity'})")
            else:
                same += 1
                continue
        (tolerated if name in expected else unexpected).append(name)
        print(f"{'EXPECTED' if name in expected else 'DIFFER'} {name}: {why}")
    for side, d in (("parent", a.parent), ("change", a.change)):
        errs = errors_of(d)
        if errs:
            print(f"ERRORS {side}: {sorted(errs)}")
            unexpected.extend(f"errors.json:{side}:{k}" for k in errs)
    print(f"== {same} identical, {len(tolerated)} expected to differ, "
          f"{len(unexpected)} unexpected of {len(left | right)} rows")
    sys.exit(1 if unexpected else 0)


if __name__ == "__main__":
    main()
