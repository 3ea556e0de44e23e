#!/usr/bin/env python3
"""Local pre-flight for the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/compare_oracle.py <sfDir> <verifyOutDir> [query ...]

Mimics the driver: registers each parquet table in <sfDir> as a DuckDB
view, runs every SQL in <verifyOutDir>/oracle_sql.json, loads the
Spark result parquet for the same query name, sorts columns by name and
rows by all columns, and compares values exactly.

Query names after the two directories restrict the compare to those
entries, matching a `graft.Verify <sfDir> <outDir> <query ...>` dump
(oracle_sql.json always lists every entry). A named query without an
oracle is a FAIL.
"""
import json
import sys

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), ignore_index=True,
                        kind="mergesort")
    return df


def main() -> None:
    sf_dir, out_dir, only = sys.argv[1], sys.argv[2], set(sys.argv[3:])
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_ok = 0
    missing = sorted(only - oracle.keys())
    for name in missing:
        print(f"FAIL {name}: no oracle SQL")
    if only:
        oracle = {k: v for k, v in oracle.items() if k in only}
    for name, sql in sorted(oracle.items()):
        try:
            exp = con.sql(sql).df()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            continue
        try:
            got = pd.read_parquet(f"{out_dir}/{name}")
        except Exception as e:
            print(f"FAIL {name}: spark output missing: {e}")
            continue
        if sorted(got.columns) != sorted(exp.columns):
            print(f"FAIL {name}: columns spark={sorted(got.columns)} "
                  f"oracle={sorted(exp.columns)}")
            continue
        if len(got) != len(exp):
            print(f"FAIL {name}: rows spark={len(got)} oracle={len(exp)}")
            continue
        g, e = canon(got), canon(exp)
        bad = []
        for c in g.columns:
            gv, ev = g[c], e[c]
            if gv.dtype != ev.dtype:
                # The driver's gate hashes raw values — a dtype mismatch
                # (e.g. int64 vs HUGEINT→float64) is a hard FAIL there,
                # so it must be a hard FAIL here too. No coercion.
                bad.append(f"{c}: dtype {g[c].dtype} vs {e[c].dtype}")
                continue
            neq = ~((gv == ev) | (gv.isna() & ev.isna()))
            if neq.any():
                i = neq.idxmax()
                bad.append(f"{c}: {int(neq.sum())} diffs, first at row "
                           f"{i}: spark={gv[i]!r} oracle={ev[i]!r}")
        if bad:
            print(f"FAIL {name} ({len(got)} rows): " + "; ".join(bad[:3]))
        else:
            n_ok += 1
            print(f"OK   {name} ({len(got)} rows)")
    print(f"\n{n_ok}/{len(oracle) + len(missing)} queries match")


if __name__ == "__main__":
    main()
