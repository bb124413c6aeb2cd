#!/usr/bin/env python3
"""Compare the part files of two Spark output directories byte for byte.

Usage: python3 scripts/diff_parts.py <dirA> <dirB>

Spark names each part file `part-NNNNN-<job UUID>-cNNN.<ext>`, and the UUID
differs per run, so files are paired by their name with the UUID taken out:
the `part-NNNNN` task index, the `cNNN` file counter that
`maxRecordsPerFile` adds, and the extension. Prints one line per part —
`identical`, `DIFFERENT` (with the first differing byte offset and the
sizes) or `missing` (on one side only) — and a summary, and exits 1 if any
part is not identical or neither directory holds a part file. Files not
named `part-*` (`_SUCCESS`, `.crc` files) are ignored. It only reads; it
writes nothing.

Use it as the parent-vs-change check of a writer change that must keep its
output bytes: write the same input on both checkouts (for the benchmark,
copy `perfbench/.work/run/ingest_out/{csv,ndjson}` after a run) and diff
the directories.
"""
import os
import re
import sys

UUID = re.compile(r"-[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")


def parts(d: str) -> dict:
    """Part file paths of directory `d`, keyed by name without the UUID."""
    return {UUID.sub("", n): os.path.join(d, n)
            for n in sorted(os.listdir(d)) if n.startswith("part-")}


def first_difference(a: str, b: str, chunk: int = 1 << 20):
    """The offset of the first byte where files `a` and `b` differ, or None."""
    offset = 0
    with open(a, "rb") as fa, open(b, "rb") as fb:
        while True:
            x, y = fa.read(chunk), fb.read(chunk)
            if x != y:
                n = min(len(x), len(y))
                return offset + next((i for i in range(n) if x[i] != y[i]), n)
            if not x:
                return None
            offset += len(x)


def main(argv) -> int:
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    pa, pb = parts(argv[1]), parts(argv[2])
    counts = {"identical": 0, "DIFFERENT": 0, "missing": 0}
    for key in sorted(pa.keys() | pb.keys()):
        if key not in pa or key not in pb:
            status = "missing"
            note = f"only in {argv[1] if key in pa else argv[2]}"
        else:
            at = first_difference(pa[key], pb[key])
            status = "identical" if at is None else "DIFFERENT"
            note = None if at is None else (
                f"first difference at byte {at}; sizes {os.path.getsize(pa[key])} "
                f"vs {os.path.getsize(pb[key])}")
        counts[status] += 1
        print(f"{status:<10} {key}" + (f": {note}" if note else ""))
    print(f"\n{counts['identical']} identical, {counts['DIFFERENT']} "
          f"different, {counts['missing']} missing")
    total = len(pa.keys() | pb.keys())
    return 0 if total and counts["identical"] == total else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv))
