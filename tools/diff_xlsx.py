#!/usr/bin/env python3
"""Compare the zip parts of same-named workbooks in two directories.

    python3 tools/diff_xlsx.py DIR_A DIR_B

For every ``*.xlsx`` name found in either directory, compares the
decompressed bytes of each zip part (entry order and zip timestamps are
ignored). Prints one line per workbook and one per part that differs or
exists on one side only. Exits 1 if any part differs or any workbook is
missing from one side, 0 otherwise. Standard library only.
"""
import os
import sys
import zipfile


def parts(path):
    with zipfile.ZipFile(path) as z:
        return {name: z.read(name) for name in z.namelist()}


def main(argv):
    if len(argv) != 3:
        sys.stderr.write(__doc__)
        return 2
    dir_a, dir_b = argv[1], argv[2]
    names = sorted({n for d in (dir_a, dir_b) for n in os.listdir(d)
                    if n.endswith(".xlsx")})
    bad = 0
    for name in names:
        path_a, path_b = os.path.join(dir_a, name), os.path.join(dir_b, name)
        if not (os.path.exists(path_a) and os.path.exists(path_b)):
            print(f"{name}: only in {dir_a if os.path.exists(path_a) else dir_b}")
            bad += 1
            continue
        a, b = parts(path_a), parts(path_b)
        differ = [p for p in sorted(a.keys() | b.keys()) if a.get(p) != b.get(p)]
        for p in differ:
            side = "" if p in a and p in b else f" (only in {dir_a if p in a else dir_b})"
            print(f"{name}: {p} differs{side}")
        print(f"{name}: {len(a.keys() | b.keys()) - len(differ)} parts identical, "
              f"{len(differ)} differ")
        bad += len(differ)
    if not names:
        print("no .xlsx workbooks found")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
