#!/usr/bin/env python3
"""Row identity between two graft.Verify output dirs.

    python3 tools/rows_same.py <outA> <outB> [q1,q2,...]

For each gate (default: every gate dir present in either output), reads
the gate's parquet output from both dirs in DuckDB and reports the row
counts and `EXCEPT ALL` both ways over the columns sorted by name. A gate
is SAME when the counts match and both differences are empty. Exits 1 if
any gate differs or is missing from one side.
"""
import pathlib
import sys

import duckdb


def gates_in(out):
    return {d.name for d in pathlib.Path(out).iterdir()
            if d.is_dir() and any(d.glob("*.parquet"))}


def compare(con, a, b):
    """(count_a, count_b, rows only in a, rows only in b) for two dirs."""
    def rel(d):
        return f"read_parquet('{d}/*.parquet')"
    cols_a = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {rel(a)}").fetchall()]
    cols_b = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {rel(b)}").fetchall()]
    if sorted(cols_a) != sorted(cols_b):
        raise ValueError(f"columns differ: {sorted(cols_a)} vs {sorted(cols_b)}")
    cols = ", ".join(f'"{c}"' for c in sorted(cols_a))
    sa, sb = f"SELECT {cols} FROM {rel(a)}", f"SELECT {cols} FROM {rel(b)}"
    def count(sql):
        return con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
    return (count(sa), count(sb), count(f"{sa} EXCEPT ALL {sb}"),
            count(f"{sb} EXCEPT ALL {sa}"))


def main(out_a, out_b, names=None):
    gates = sorted(names or (gates_in(out_a) | gates_in(out_b)))
    con = duckdb.connect()
    bad = 0
    for g in gates:
        a, b = pathlib.Path(out_a) / g, pathlib.Path(out_b) / g
        if not (a.is_dir() and b.is_dir()):
            print(f"{g}: MISSING in {out_a if not a.is_dir() else out_b}")
            bad += 1
            continue
        try:
            na, nb, only_a, only_b = compare(con, a, b)
        except Exception as e:  # unreadable output or schema drift
            print(f"{g}: ERROR {e}")
            bad += 1
            continue
        same = na == nb and only_a == 0 and only_b == 0
        bad += not same
        print(f"{g}: {'SAME' if same else 'DIFF'} rows {na}/{nb} "
              f"only-A {only_a} only-B {only_b}")
    print(f"{len(gates) - bad}/{len(gates)} SAME")
    return 1 if bad else 0


if __name__ == "__main__":
    if len(sys.argv) not in (3, 4):
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2],
                  sys.argv[3].split(",") if len(sys.argv) == 4 else None))
