#!/usr/bin/env python3
"""Pandas-dtype audit of the correctness gate (dev tool, driver-side deps).

The driver compares Spark parquet output and the DuckDB oracle through
pandas (sort rows, hash values) — which is STRICTER than value equality:

  * DuckDB returns sum(BIGINT) as HUGEINT, which pandas converts to
    float64; Spark writes int64. Equal values, different hashes
    (r3/r4: q_csv_roundtrip, q_partition_prune, q_pack_ids,
    q_split_leakage all failed only on this).
  * list/array result columns arrive as ndarray cells, which
    sort_values cannot order (r4: q_random_proj oracle crash).

This tool runs every oracle against the fixture tables, loads the
matching Verify dump, and flags any column whose pandas dtype KIND
differs between the two sides, plus any object column holding
ndarrays/lists. Exit 1 if anything is flagged.

Usage: python3 tools/dtypecheck.py <sfDir> <verifyOutDir>
"""
import sys, json, glob, os
import duckdb
import numpy as np
import pandas as pd

sfdir, outdir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for p in glob.glob(f"{sfdir}/*.parquet"):
    name = os.path.basename(p)[: -len(".parquet")]
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))


def kinds(df):
    out = {}
    for c in df.columns:
        k = df[c].dtype.kind
        if k == "O":
            sample = df[c].dropna()
            if len(sample) and isinstance(
                sample.iloc[0], (np.ndarray, list, dict)
            ):
                k = "ARRAY"
            else:
                k = "O"
        out[c] = k
    return out


INT_KINDS = {"i", "u"}
flags = 0
for name, sql in sorted(oracle.items()):
    res_dir = f"{outdir}/{name}"
    if not os.path.isdir(res_dir):
        print(f"FAIL {name}: no Spark result dir")
        flags += 1
        continue
    try:
        sp = con.execute(f"SELECT * FROM '{res_dir}/*.parquet'").df()
        od = con.execute(sql).df()
    except Exception as e:
        print(f"FAIL {name}: exec error: {str(e)[:160]}")
        flags += 1
        continue
    ks, ko = kinds(sp), kinds(od)
    bad = []
    for c in sorted(set(ks) | set(ko)):
        a, b = ks.get(c), ko.get(c)
        if a is None or b is None:
            bad.append(f"{c}: only-one-side spark={a} oracle={b}")
            continue
        if a == "ARRAY" or b == "ARRAY":
            bad.append(f"{c}: array cell (unsortable) spark={a} oracle={b}")
            continue
        if a != b and not (a in INT_KINDS and b in INT_KINDS):
            bad.append(f"{c}: kind spark={a} oracle={b}")
    # the driver sorts rows across all columns — prove both frames can
    for side, df in (("spark", sp), ("oracle", od)):
        try:
            df.sort_values(by=list(df.columns))
        except Exception as e:
            bad.append(f"sort_values({side}) raises: {str(e)[:80]}")
    if bad:
        flags += 1
        print(f"FLAG {name}: " + "; ".join(bad))
    else:
        print(f"OK   {name}")
print(f"\n{flags} flagged")
sys.exit(1 if flags else 0)
