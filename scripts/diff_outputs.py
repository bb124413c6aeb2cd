#!/usr/bin/env python3
"""Compare two graft.Verify output directories query by query.

Usage: python3 scripts/diff_outputs.py <outA> <outB>

For every query directory in either output (the <name>/ parquet dirs that
graft.Verify writes), reads both sides, canonicalizes them with check.py's
`canon` (columns by name, rows sorted) and compares values exactly, the
per-column dtypes, and the sign bits and NaN positions of float columns
(check.py's strict checks). Prints one line per query — `identical`,
`DIFFERENT` (with the first difference) or `missing` (absent or empty on
one side) — and a summary, and exits 1 if any query is not identical.
It only reads; it writes nothing.

Use it as the parent-vs-change check of a change that must keep results
hash-identical: run graft.Verify on both checkouts with the same
SPARK_GRAFT_ONLY and SF, then diff the two output directories.
"""
import glob
import os
import sys

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from check import canon, dtype_diffs, float_bit_diffs  # noqa: E402


def read(out_dir: str, name: str):
    files = sorted(glob.glob(f"{out_dir}/{name}/*.parquet"))
    if not files:
        return None
    return canon(pd.concat([pd.read_parquet(p) for p in files]))


def difference(a: pd.DataFrame, b: pd.DataFrame):
    """The first difference between two canonical frames, or None."""
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    dtypes = dtype_diffs(a, b)
    if dtypes:
        return f"dtypes {dtypes}"
    bits = float_bit_diffs(a, b)
    if bits:
        return f"float bits {bits}"
    try:
        pd.testing.assert_frame_equal(a, b, check_exact=True)
    except AssertionError as e:
        return str(e)[:500]
    return None


def main(argv) -> int:
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    out_a, out_b = argv[1], argv[2]
    names = sorted({os.path.basename(p)
                    for d in (out_a, out_b) for p in glob.glob(f"{d}/*")
                    if os.path.isdir(p)})
    counts = {"identical": 0, "DIFFERENT": 0, "missing": 0}
    for name in names:
        a, b = read(out_a, name), read(out_b, name)
        if a is None or b is None:
            side = out_a if a is None else out_b
            status, note = "missing", f"no parquet under {side}/{name}"
        else:
            note = difference(a, b)
            status = "DIFFERENT" if note else "identical"
        counts[status] += 1
        print(f"{status:<10} {name}" + (f": {note}" if note else ""))
    print(f"\n{counts['identical']} identical, {counts['DIFFERENT']} "
          f"different, {counts['missing']} missing")
    return 0 if names and counts["identical"] == len(names) else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv))
