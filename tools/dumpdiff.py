#!/usr/bin/env python3
"""Compare two graft.Verify dump directories query by query.

Usage: python3 tools/dumpdiff.py <before> <after> [prefix]

Each query directory holds the parquet part files one dump wrote. Two
dumps of the same query are SAME when they have as many part files and
each pair decodes to equal rows (order included) and carries equal
bytes before the footer. Whole files are not compared: file names carry
a per-run UUID, and parquet-mr writes each column chunk's encoding list
from a hash set, so the footer's byte order varies run to run.

With a prefix, only the queries whose names start with it are compared.
Prints one SAME/DIFF line per query, then "N/M SAME"; exits 1 on any
DIFF.
"""
import glob
import os
import sys

import pyarrow.parquet as pq


def pages(path):
    """The file's bytes before the footer (footer length + "PAR1")."""
    raw = open(path, "rb").read()
    return raw[:len(raw) - 8 - int.from_bytes(raw[-8:-4], "little")]


def parts(root, query):
    return sorted(glob.glob(f"{root}/{query}/part-*.parquet"))


def same(before, after, query):
    fa, fb = parts(before, query), parts(after, query)
    return len(fa) == len(fb) and all(
        pq.read_table(a).equals(pq.read_table(b)) and pages(a) == pages(b)
        for a, b in zip(fa, fb))


def main():
    if len(sys.argv) not in (3, 4):
        sys.exit(__doc__.strip().splitlines()[2])
    before, after = sys.argv[1:3]
    prefix = sys.argv[3] if len(sys.argv) == 4 else ""
    queries = sorted(q for q in set(os.listdir(before)) | set(os.listdir(after))
                     if q.startswith(prefix)
                     and (os.path.isdir(f"{before}/{q}") or os.path.isdir(f"{after}/{q}")))
    n_same = 0
    for q in queries:
        ok = same(before, after, q)
        n_same += ok
        print("SAME" if ok else "DIFF", q)
    print(f"{n_same}/{len(queries)} SAME")
    sys.exit(0 if n_same == len(queries) else 1)


if __name__ == "__main__":
    main()
