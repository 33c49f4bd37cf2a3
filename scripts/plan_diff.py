#!/usr/bin/env python3
"""Compare two `graft.PlanDump` output dirs query by query.

Usage: python3 scripts/plan_diff.py <dirA> <dirB> [--context N]

PlanDump writes `<outDir>/<query>_<suffix>.txt` (one formatted plan per
query). Files are paired by query name (the file name minus its last
`_<suffix>`). Before comparing, each plan is normalized: temp paths, dir
UUIDs, `#<n>` expression ids and `plan_id=<n>` become placeholders, so two
runs of the same plan compare equal.

Per query it prints the number of file scans (`Scan parquet` and
`BatchScan` nodes), the `PushedFilters` and `ReadSchema` lines of each side,
and a unified diff of the normalized plans when they differ. Exit status is
0 when every paired plan matches after normalization, 1 otherwise.
"""
import argparse
import difflib
import os
import re
import sys

_UUID = re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")
_TMP = re.compile(r"/tmp/[^/\s,\]\)]+")
_EXPR_ID = re.compile(r"#\d+L?")
_PLAN_ID = re.compile(r"plan_id=\d+")


def normalize(text):
    text = _UUID.sub("<uuid>", text)
    text = _TMP.sub("/tmp/<tmp>", text)
    text = _EXPR_ID.sub("#<id>", text)
    return _PLAN_ID.sub("plan_id=<id>", text)


def load(d):
    """query name -> normalized plan text for every PlanDump file in d."""
    out = {}
    for f in sorted(os.listdir(d)):
        if f.endswith(".txt") and "_" in f:
            with open(os.path.join(d, f), encoding="utf-8") as fh:
                out[f[:-4].rsplit("_", 1)[0]] = normalize(fh.read())
    return out


def summary(plan):
    lines = plan.splitlines()
    return {
        "Scan parquet": sum(1 for l in lines if re.match(r"\(\d+\) Scan parquet", l)),
        "BatchScan": sum(1 for l in lines if re.match(r"\(\d+\) BatchScan", l)),
        "PushedFilters": [l.split(":", 1)[1].strip() for l in lines if l.startswith("PushedFilters:")],
        "ReadSchema": [l.split(":", 1)[1].strip() for l in lines if l.startswith("ReadSchema:")],
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("a")
    ap.add_argument("b")
    ap.add_argument("--context", type=int, default=2, help="diff context lines")
    args = ap.parse_args()
    a, b = load(args.a), load(args.b)
    differ = False
    for q in sorted(set(a) | set(b)):
        if q not in a or q not in b:
            print(f"== {q}: only in {args.a if q in a else args.b}")
            differ = True
            continue
        sa, sb = summary(a[q]), summary(b[q])
        same = a[q] == b[q]
        differ |= not same
        print(f"== {q}: {'identical after normalization' if same else 'DIFFERS'}")
        for k in ("Scan parquet", "BatchScan", "PushedFilters", "ReadSchema"):
            mark = "" if sa[k] == sb[k] else "   <-- differs"
            print(f"  {k}: A={sa[k]}  B={sb[k]}{mark}")
        if not same:
            diff = difflib.unified_diff(a[q].splitlines(), b[q].splitlines(),
                                        args.a, args.b, n=args.context, lineterm="")
            for line in diff:
                print("    " + line)
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main())
