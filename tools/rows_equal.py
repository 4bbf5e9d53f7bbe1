#!/usr/bin/env python3
"""Decoded-table equality of two graft.Verify output directories.

graft.Verify's parquet files are not byte-reproducible between JVM runs:
parquet-mr writes each column chunk's encodings list in hash-set order, so a
byte compare fails on unchanged data. This tool reads each entry with
pyarrow and compares the decoded tables instead: schema, rows, row order and
the footer's key-value metadata (`Table.equals(..., check_metadata=True)`).

Usage: python3 tools/rows_equal.py <verifyDirA> <verifyDirB> [names...]
With no names, every entry found in either directory is compared. Prints one
line per entry and exits 1 if any entry differs or is missing on one side.
"""
import os
import sys

import pyarrow.parquet as pq


def entries(d):
    return {n for n in os.listdir(d) if os.path.isdir(os.path.join(d, n))}


def main():
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    dir_a, dir_b = sys.argv[1:3]
    names = sys.argv[3:] or sorted(entries(dir_a) | entries(dir_b))
    bad = 0
    for name in names:
        path_a, path_b = os.path.join(dir_a, name), os.path.join(dir_b, name)
        if not (os.path.isdir(path_a) and os.path.isdir(path_b)):
            print(f"MISSING {name}")
            bad += 1
            continue
        a, b = pq.read_table(path_a), pq.read_table(path_b)
        if a.equals(b, check_metadata=True):
            print(f"EQUAL   {name} ({a.num_rows} rows)")
        else:
            print(f"DIFFER  {name} ({a.num_rows} vs {b.num_rows} rows)")
            bad += 1
    print(f"== {len(names) - bad}/{len(names)} equal ==")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
