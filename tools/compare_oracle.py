#!/usr/bin/env python3
"""Local replica of the driver's DuckDB-oracle compare (strict equality).

Usage: python3 tools/compare_oracle.py /tmp/verify_out /root/testdata/sf0.01
Not shipped code — dev tool only (driver-side python env).
"""
import sys, json, glob
import duckdb
import pandas as pd

out_dir, sf_dir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem",
          "events","documents","embeddings"]:
    con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
ok = fail = 0
int_width = []  # (row, column, spark dtype, duckdb dtype): integer widths only
for name, sql in sorted(oracle.items()):
    try:
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output"); fail += 1; continue
        mine = pd.read_parquet(f"{out_dir}/{name}")
        want = con.execute(sql).df()
        mine = mine[sorted(mine.columns)]
        want = want[sorted(want.columns)]
        if list(mine.columns) != list(want.columns):
            print(f"FAIL {name}: cols {list(mine.columns)} vs {list(want.columns)}"); fail += 1; continue
        if len(mine) != len(want):
            print(f"FAIL {name}: rows {len(mine)} vs {len(want)}"); fail += 1; continue
        bad = []
        for c in mine.columns:
            a, b = mine[c], want[c]
            # dtype harmonization mirroring a value-hash: compare as python objects
            eq = a.reset_index(drop=True).astype(object).where(pd.notna(a.reset_index(drop=True)), None) \
                 .combine(b.reset_index(drop=True).astype(object).where(pd.notna(b.reset_index(drop=True)), None),
                          lambda x, y: x == y)
            if not eq.all():
                i = eq[~eq].index[0]
                bad.append((c, a.iloc[i], b.iloc[i], str(a.dtype), str(b.dtype)))
        if bad:
            print(f"FAIL {name}: {bad[:3]}"); fail += 1
        else:
            # the oracle hash this tool replicates tells an integer type
            # from a non-integer one (a DuckDB HUGEINT sum reaches pandas as
            # float64 and fails it on equal values) but not one integer
            # width from another: int32 vs int64 hashes equal, so those
            # pairs go on one summary line and every other dtype
            # disagreement warns per row
            tw = [(c, str(mine[c].dtype), str(want[c].dtype))
                  for c in mine.columns
                  if str(mine[c].dtype) != str(want[c].dtype)]
            ints = [t for t in tw if pd.api.types.is_integer_dtype(mine[t[0]])
                    and pd.api.types.is_integer_dtype(want[t[0]])]
            int_width += [(name,) + t for t in ints]
            if len(ints) < len(tw):
                print(f"TYPEWARN {name}: {[t for t in tw if t not in ints]}")
            ok += 1
    except Exception as e:
        print(f"FAIL {name}: EXC {e}"); fail += 1
if int_width:
    print(f"INTWIDTH {len(int_width)} columns differ in integer width only "
          f"(hash-neutral): " + ", ".join(f"{n}.{c} {x}/{y}" for n, c, x, y in int_width))
print(f"== {ok} ok, {fail} fail of {len(oracle)}")
