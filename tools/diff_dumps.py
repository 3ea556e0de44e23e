#!/usr/bin/env python3
"""Compare two graft.Verify dumps query by query.

Usage: python3 tools/diff_dumps.py <dumpA> <dumpB> [query ...]

A dump is the output directory of `graft.Verify <sfDir> <outDir>`: one
parquet directory per query. Two dumps of the same results are never
byte-identical (part-file names carry a per-write UUID, and parquet
footers differ between JVMs), so this compares what the correctness gate
hashes instead: column names, dtypes (exactly, no coercion) and values
in compare_oracle.py's canonical form (columns sorted by name, rows by
all columns).

Prints `equal <query>` or `changed <query>: <why>` per query, then a
count. Without query names it compares every query either dump holds.
Exits 1 if any query changed.
"""
import pathlib
import sys

import pandas as pd

from compare_oracle import canon


def queries(dump: pathlib.Path) -> set:
    return {p.name for p in dump.iterdir() if p.is_dir()}


def diff(a: pathlib.Path, b: pathlib.Path) -> str:
    """Why the two dumps of one query differ, or '' when they do not."""
    missing = [s for s, d in (("A", a), ("B", b)) if not d.is_dir()]
    if missing:
        return "missing in " + " and ".join(missing)
    ga, gb = pd.read_parquet(a), pd.read_parquet(b)
    if sorted(ga.columns) != sorted(gb.columns):
        return f"columns {sorted(ga.columns)} vs {sorted(gb.columns)}"
    ga, gb = canon(ga), canon(gb)
    types = [f"{c}: {ga[c].dtype} vs {gb[c].dtype}" for c in ga.columns
             if ga[c].dtype != gb[c].dtype]
    if types:
        return "dtype " + "; ".join(types)
    if len(ga) != len(gb):
        return f"rows {len(ga)} vs {len(gb)}"
    for c in ga.columns:
        va, vb = ga[c], gb[c]
        neq = ~((va == vb) | (va.isna() & vb.isna()))
        if neq.any():
            i = neq.idxmax()
            return (f"{c}: {int(neq.sum())} diffs, first at row {i}: "
                    f"{va[i]!r} vs {vb[i]!r}")
    return ""


def main() -> None:
    dump_a, dump_b = pathlib.Path(sys.argv[1]), pathlib.Path(sys.argv[2])
    names = sys.argv[3:] or sorted(queries(dump_a) | queries(dump_b))
    n_changed = 0
    for name in names:
        why = diff(dump_a / name, dump_b / name)
        if why:
            n_changed += 1
            print(f"changed {name}: {why}")
        else:
            print(f"equal   {name}")
    print(f"\n{len(names) - n_changed}/{len(names)} queries equal")
    sys.exit(1 if n_changed else 0)


if __name__ == "__main__":
    main()
