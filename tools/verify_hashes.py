#!/usr/bin/env python3
"""Compare two graft.Verify output directories output by output.

Usage: python3 tools/verify_hashes.py <verifyOutA> <verifyOutB>

Hashes each <dir>/<name>/ parquet (column names and types, then every row,
rows sorted by their printed form, floats printed exactly) and prints each
name whose hash differs or that only one side has, then a summary line.
Exits 1 when any output differs.
"""
import glob, hashlib, os, sys
import duckdb


def hashes(d):
    con = duckdb.connect()
    out = {}
    for name in sorted(os.listdir(d)):
        p = os.path.join(d, name)
        if not os.path.isdir(p):
            continue
        if not glob.glob(os.path.join(p, "*.parquet")):
            out[name] = "no parquet"
            continue
        r = con.execute(f"SELECT * FROM read_parquet('{p}/*.parquet')")
        h = hashlib.md5(repr([(c[0], str(c[1])) for c in r.description]).encode())
        for row in sorted(repr(t) for t in r.fetchall()):
            h.update(row.encode() + b"\n")
        out[name] = h.hexdigest()
    return out


def main():
    a, b = hashes(sys.argv[1]), hashes(sys.argv[2])
    diff = sorted(n for n in a.keys() | b.keys() if a.get(n) != b.get(n))
    for n in diff:
        print(f"DIFF {n}: {a.get(n, 'missing')} vs {b.get(n, 'missing')}")
    print(f"== {len(a.keys() & b.keys()) - len(set(diff) & a.keys() & b.keys())} identical, "
          f"{len(diff)} differ ({len(a)} vs {len(b)} outputs) ==")
    sys.exit(1 if diff else 0)


if __name__ == "__main__":
    main()
