#!/usr/bin/env python3
"""Sorted-row sha256 of each query result in a `graft.Verify` output dir.

Usage: python3 tools/result_digest.py <verifyOutA> [<verifyOutB>] [q...]

Each `q*` result directory is read, put in the canonical form the oracle
compare uses (`compare_oracle.norm`: sorted columns, sorted rows, one
null token), and hashed over its CSV rendering. With one directory it
prints `<sha256>  <query>  rows=<n>`. With two it prints both digests
per query and ends with the queries whose digests differ, plus those
present on one side only; the exit status is 1 when any do. Trailing
arguments keep only the queries whose names start with one of them
(`q78` matches `q78_...`).
"""
import glob
import hashlib
import os
import sys
import warnings

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from compare_oracle import norm  # noqa: E402


def digests(out_dir: str, wanted: list) -> dict:
    # norm's datetime probe warns on every non-date string column
    warnings.filterwarnings("ignore", category=UserWarning)
    res = {}
    for d in sorted(glob.glob(f"{out_dir}/q*")):
        name = os.path.basename(d)
        if wanted and not any(name.startswith(w) for w in wanted):
            continue
        df = norm(pd.read_parquet(d))
        res[name] = (hashlib.sha256(
            df.to_csv(index=False).encode()).hexdigest(), len(df))
    return res


def main() -> int:
    args = sys.argv[1:]
    if not args:
        print(__doc__)
        return 2
    dirs = [args[0]] + ([args[1]] if len(args) > 1 and
                        os.path.isdir(args[1]) else [])
    wanted = args[len(dirs):]
    if len(dirs) == 1:
        for name, (h, n) in digests(dirs[0], wanted).items():
            print(f"{h}  {name}  rows={n}")
        return 0
    a, b = (digests(d, wanted) for d in dirs)
    differ = []
    for name in sorted(set(a) | set(b)):
        ha = a[name][0] if name in a else "-"
        hb = b[name][0] if name in b else "-"
        same = ha == hb
        if not same:
            differ.append(name)
        print(f"{'same' if same else 'DIFF'}  {name}  {ha[:16]}  {hb[:16]}")
    print(f"\n{len(set(a) | set(b)) - len(differ)}/{len(set(a) | set(b))} "
          f"identical. DIFFER: {differ}")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main())
