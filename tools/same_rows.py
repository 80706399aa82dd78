#!/usr/bin/env python3
"""Exact compare of two graft.Verify dumps (dev tool). Usage:

    python3 tools/same_rows.py <verifyDirA> <verifyDirB>

For every query directory on either side, reads both outputs with
check.py's reader (columns sorted by name, rows sorted by every column)
and compares them exactly: same columns, same dtypes, same row count,
bit-equal values. Prints one line per differing query and a summary;
exits 1 on any difference or on a query present on one side only.
"""
import os
import sys

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from check import read_output  # noqa: E402


def queries(d: str) -> set:
    return {n for n in os.listdir(d) if os.path.isdir(os.path.join(d, n))}


def main(a: str, b: str) -> int:
    qa, qb = queries(a), queries(b)
    differ = 0
    for name in sorted(qa ^ qb):
        print(f"[same-rows] {name}: only in {a if name in qa else b}")
        differ += 1
    for name in sorted(qa & qb):
        x = read_output(os.path.join(a, name))
        y = read_output(os.path.join(b, name))
        try:
            pd.testing.assert_frame_equal(x, y, check_exact=True)
            continue
        except AssertionError as e:
            status = str(e).strip().split("\n")[0]
        print(f"[same-rows] {name}: DIFFERS {status}")
        differ += 1
    total = len(qa | qb)
    print(f"[same-rows] {total - differ} of {total} outputs row-identical")
    return 1 if differ else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
