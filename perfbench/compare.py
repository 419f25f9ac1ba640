#!/usr/bin/env python3
"""Compare two benchmark detail files, refusing runs that are not alike.

    python3 perfbench/compare.py BEFORE.json AFTER.json

The detail files are the ones run.py writes to
perfbench/.work/results/<workload>-seed<n>-trace<t>.json. Results are
compared only when workload, sf and cpus match: a different core count
or input size changes every timing, so such a ratio means nothing.
"""
import json
import sys

ALIKE = ("workload", "sf", "cpus")


def main(before, after):
    a, b = (json.load(open(p)) for p in (before, after))
    diff = [k for k in ALIKE if a["stamp"][k] != b["stamp"][k]]
    if diff:
        pairs = [f"{k} {a['stamp'][k]} vs {b['stamp'][k]}" for k in diff]
        print("not comparable: " + ", ".join(pairs))
        return 2
    for block in ("e2e", "layers"):
        for k, va in sorted(a.get(block, {}).items()):
            vb = b.get(block, {}).get(k)
            if vb is None:
                continue
            ratio = f"{vb / va:.3f}x" if va else "-"
            print(f"{block:6} {k:36} {va:14.6g} {vb:14.6g} {ratio}")
    for k in ("calibrate_before_s", "calibrate_after_s", "load_before"):
        print(f"stamp  {k:36} {a['stamp'].get(k)} -> {b['stamp'].get(k)}")
    return 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
