#!/usr/bin/env python3
"""Bit-exact replica of the driver's value hash (dev tool).

check.py canonicalizes floats at 10 significant digits; the driver
hashes sorted values exactly, so a double differing in the last ulps
passes check.py but fails the official gate. This tool sorts both
frames over all columns and requires EXACT equality (check_exact) —
any face that leans on float leniency surfaces here first.

Usage: python3 tools/strictcheck.py <sfDir> <verifyOutDir>
"""
import sys, json, glob, os
import duckdb
import pandas as pd

sfdir, outdir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for p in glob.glob(f"{sfdir}/*.parquet"):
    name = os.path.basename(p)[: -len(".parquet")]
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
fails = 0
for name, sql in sorted(oracle.items()):
    res_dir = f"{outdir}/{name}"
    if not os.path.isdir(res_dir):
        print(f"FAIL {name}: no Spark result dir")
        fails += 1
        continue
    try:
        sp = con.execute(f"SELECT * FROM '{res_dir}/*.parquet'").df()
        od = con.execute(sql).df()
        cols = sorted(sp.columns)
        sp = sp[cols].sort_values(by=cols, kind="mergesort").reset_index(drop=True)
        od = od[sorted(od.columns)]
        od.columns = sorted(od.columns)
        od = od.sort_values(by=cols, kind="mergesort").reset_index(drop=True)
        # dtype-kind alignment is dtypecheck.py's job; here cast ints
        # to a common width so int32-vs-int64 doesn't mask value diffs
        for c in cols:
            if sp[c].dtype.kind in "iu" and od[c].dtype.kind in "iu":
                sp[c] = sp[c].astype("int64")
                od[c] = od[c].astype("int64")
        pd.testing.assert_frame_equal(sp, od, check_exact=True,
                                      check_dtype=False)
        print(f"OK   {name}")
    except Exception as e:
        fails += 1
        msg = str(e).replace("\n", " | ")[:300]
        print(f"FAIL {name}: {msg}")
print(f"\n{len(oracle) - fails}/{len(oracle)} bit-exact")
sys.exit(1 if fails else 0)
