#!/usr/bin/env python3
"""Compare two Verify output dirs entry by entry.

Usage:
  python3 tools/samecheck.py <dirA> <dirB> <name[,name...]>

For each named entry, loads `<dir>/<name>/*.parquet` from both dirs,
sorts the columns by name, and compares the sorted `astype(str)` row
lists. Prints `SAME <name>` or `DIFF <name>` (a missing output dir is a
DIFF) and exits 1 on any difference. Use it for the 32-vs-5-thread
determinism audit and for forced-at-scale vs default size-gate runs.
"""
import os
import sys

import pandas as pd


def rows(out_dir, name):
    path = os.path.join(out_dir, name)
    if not os.path.isdir(path):
        return None
    df = pd.read_parquet(path)
    df = df[sorted(df.columns)].astype(str)
    return sorted(map(tuple, df.itertuples(index=False))), list(df.columns)


def main():
    dir_a, dir_b = sys.argv[1], sys.argv[2]
    names = [n.strip() for n in sys.argv[3].split(",") if n.strip()]
    diffs = 0
    for name in names:
        a, b = rows(dir_a, name), rows(dir_b, name)
        if a is None or b is None or a != b:
            print(f"DIFF {name}")
            diffs += 1
        else:
            print(f"SAME {name}")
    sys.exit(1 if diffs else 0)


if __name__ == "__main__":
    main()
