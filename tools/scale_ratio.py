#!/usr/bin/env python3
"""Build the SURVEY §6 scaling table from two `bench.json` files.

Each file is the record `graft.Bench` writes to `SPARK_GRAFT_BENCH_OUT`;
only its "queries" map is read. Time the same query subset at the base
dir and at a ScaleGen-derived dir, then compare:

  SPARK_GRAFT_SF_DIR=<base> SPARK_GRAFT_BENCH_OUT=/tmp/base.json \
    sbt "runMain graft.Bench q_tpch1,q_tpch3"
  (the same with the derived dir and /tmp/big.json)
  python3 tools/scale_ratio.py /tmp/base.json /tmp/big.json [factor]

Prints a markdown table sorted by growth factor, flagging queries whose
wall-time grows more than `factor * 1.3` (log-factor headroom over the
data growth).
"""
import json
import sys


def main(base_path, big_path, factor=10.0, flag_mult=1.3):
    base = json.load(open(base_path))["queries"]
    big = json.load(open(big_path))["queries"]
    rows = []
    skipped = []
    for q in sorted(base):
        if q not in big:  # not part of the bigger run's subset
            skipped.append(q)
            continue
        b, g = base[q], big[q]
        if b is None or g is None or b <= 0 or g <= 0:
            rows.append((float("inf"), q, b, g))  # ran and FAILED — flag
            continue
        rows.append((g / b, q, b, g))
    if skipped:
        print(f"(not in the {factor:g}x subset: {', '.join(skipped)})\n")
    rows.sort(reverse=True)
    thresh = factor * flag_mult
    print(f"| query | base s | {factor:g}x s | growth | vs {factor:g}x data |")
    print("|---|---|---|---|---|")
    n_flag = 0
    for r, q, b, g in rows:
        flag = "**SUPER-LINEAR**" if r > thresh else ("sub-linear" if r < factor else "~linear")
        if r > thresh:
            n_flag += 1
        print(f"| {q} | {b:.2f} | {g:.2f} | {r:.1f}x | {flag} |")
    bt = sum(b for _, _, b, _ in rows if b > 0)
    gt = sum(g for _, _, _, g in rows if g > 0)
    print(f"\ntotals: {bt:.1f} s -> {gt:.1f} s ({gt/bt:.1f}x); "
          f"{n_flag} queries over the {thresh:g}x flag line")


if __name__ == "__main__":
    a = sys.argv[1:]
    main(a[0], a[1], float(a[2]) if len(a) > 2 else 10.0)
