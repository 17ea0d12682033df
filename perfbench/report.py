#!/usr/bin/env python3
"""Markdown reports over benchmark records (.bench_build/records/*.json).

  python3 perfbench/report.py layers RECORD          # per-layer table of a traced run
  python3 perfbench/report.py sets --a REC... --b REC...

`sets` summarizes two sets of untraced runs (for example two host windows):
per workload and end-to-end metric, each set's median and spread (distance
between the first and third quartile, `statistics.quantiles(n=4)`, as a
share of the median) and the change of the second median against the first;
then, per pass, how much wall time, executor CPU seconds and job counts vary
(coefficient of variation) in each set.
"""
import argparse
import json
import statistics
import sys
from collections import defaultdict


def load(paths):
    out = []
    for p in paths:
        with open(p) as f:
            out.append(json.load(f))
    return out


def spread(xs):
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / statistics.median(xs)


def cv(xs):
    return statistics.pstdev(xs) / statistics.mean(xs) if len(xs) > 1 else 0.0


def layers(rec):
    lay = rec["layers"]
    rows = lay["rows"]
    print(f"### {rec['workload']} (seed {rec['seed']}, traced pass "
          f"{lay['traced_pass_s']:.2f} s, untraced {lay['untraced_pass_s']:.2f} s, "
          f"overhead {rec['metrics']['trace.overhead']['value']:.3f}×)\n")
    print("| span | count | wall ms | self ms | self % | cpu ms | jobs | tasks "
          "| shuffle B | input B | written B |")
    print("|---|---|---|---|---|---|---|---|---|---|---|")
    total = lay["wall_ms"]
    for name, r in sorted(rows.items(), key=lambda kv: -kv[1]["self_ms"]):
        c = r["counters"]
        print(f"| {name} | {r['count']} | {r['wall_ms']:.1f} | {r['self_ms']:.1f} | "
              f"{100 * r['self_ms'] / total:.1f} | {c.get('cpu_ns', 0) / 1e6:.1f} | "
              f"{c.get('jobs', 0)} | {c.get('tasks', 0)} | {c.get('shuffle_bytes', 0)} | "
              f"{c.get('input_bytes', 0)} | {c.get('bytes_written', 0)} |")
    print(f"\nself times + unattributed = {lay['self_sum_ms']:.1f} ms; "
          f"traced wall = {total:.1f} ms\n")


def sets(a, b):
    by = defaultdict(lambda: ([], []))
    for i, recs in enumerate((a, b)):
        for r in recs:
            by[r["workload"]][i].append(r)
    for w, (ra, rb) in sorted(by.items()):
        print(f"### {w} ({len(ra)} runs in set A, {len(rb)} in set B)\n")
        print("| metric | unit | A median | A spread | B median | B spread | B vs A |")
        print("|---|---|---|---|---|---|---|")
        for name, m in ra[0]["metrics"].items():
            xa = [r["metrics"][name]["value"] for r in ra]
            xb = [r["metrics"][name]["value"] for r in rb]
            ma, mb = statistics.median(xa), statistics.median(xb)
            print(f"| {name} | {m['unit']} | {ma:.4g} | {spread(xa):.3f} | {mb:.4g} | "
                  f"{spread(xb):.3f} | {mb / ma - 1:+.3f} |")
        print("\nPer pass, coefficient of variation within each set and the change of "
              "the set mean:\n")
        print("| counter | A cv | B cv | B mean vs A mean |")
        print("|---|---|---|---|")
        for k in ("wall_s", "cpu_s", "jobs", "tasks"):
            pa = [p[k] for r in ra for p in r["raw"]["passes"]]
            pb = [p[k] for r in rb for p in r["raw"]["passes"]]
            print(f"| {k} | {cv(pa):.3f} | {cv(pb):.3f} | "
                  f"{statistics.mean(pb) / statistics.mean(pa) - 1:+.3f} |")
        print()


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    lp = sub.add_parser("layers")
    lp.add_argument("record")
    sp = sub.add_parser("sets")
    sp.add_argument("--a", nargs="+", required=True)
    sp.add_argument("--b", nargs="+", required=True)
    args = ap.parse_args(argv)
    if args.cmd == "layers":
        layers(load([args.record])[0])
    else:
        sets(load(args.a), load(args.b))


if __name__ == "__main__":
    main(sys.argv[1:])
