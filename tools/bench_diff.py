#!/usr/bin/env python3
"""Per-query diff between two graft.Bench JSON artifacts (round-11
verdict next-round #6: keep round-over-round comparables checked in so
per-query regressions are one command, not BASELINE.md archaeology).

Usage:
  python3 tools/bench_diff.py OLD.json NEW.json [--top N]

Prints header totals, per-query coverage (added/dropped), and the top-N
per-query deltas by absolute seconds (with ratios), worst first. Then it
compares each shared query's result (`detail.<q>.rows` and
`detail.<q>.chk`), lists every mismatch, prints `N/M checksums
identical`, and exits 1 if any result differs.
Driver-side tooling only — the shipped library is pure Scala/Spark.
"""
import argparse
import json
import sys


def load(path):
    with open(path) as f:
        text = f.read()
    try:
        obj = json.loads(text)
    except json.JSONDecodeError:
        obj = None
        for line in text.splitlines():
            line = line.strip()
            if line.startswith("{"):
                try:
                    obj = json.loads(line)
                    break
                except json.JSONDecodeError:
                    continue
    if not isinstance(obj, dict) or "queries" not in obj:
        raise SystemExit(
            f"{path}: not a graft.Bench artifact (no 'queries' map) — "
            "use the checked-in BENCH_local_r*.json full artifacts, not "
            "the driver's truncated wrappers")
    return obj


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("--top", type=int, default=10)
    args = ap.parse_args()
    old, new = load(args.old), load(args.new)
    oq, nq = old.get("queries", {}), new.get("queries", {})
    print(f"old: {old.get('value'):.1f}s / {len(oq)} queries "
          f"({old.get('value') / max(1, len(oq)):.3f} s/q)")
    print(f"new: {new.get('value'):.1f}s / {len(nq)} queries "
          f"({new.get('value') / max(1, len(nq)):.3f} s/q)")
    added = sorted(set(nq) - set(oq))
    dropped = sorted(set(oq) - set(nq))
    if added:
        tot = sum(nq[q] for q in added)
        print(f"added ({len(added)}, {tot:.1f}s): {', '.join(added)}")
    if dropped:
        print(f"dropped ({len(dropped)}): {', '.join(dropped)}")
    shared = [(nq[q] - oq[q], q) for q in set(nq) & set(oq)]
    shared.sort(key=lambda t: -abs(t[0]))
    print(f"\ntop {args.top} per-query deltas (shared queries):")
    for d, q in shared[: args.top]:
        print(f"  {d:+7.3f}s  {oq[q]:7.3f} -> {nq[q]:7.3f}  "
              f"({nq[q] / oq[q] if oq[q] else float('inf'):5.2f}x)  {q}")
    net = sum(d for d, _ in shared)
    print(f"\nnet shared delta: {net:+.2f}s")
    od, nd = old.get("detail", {}), new.get("detail", {})
    names = sorted(set(od) & set(nd))
    differ = [q for q in names
              if (od[q].get("rows"), od[q].get("chk"))
              != (nd[q].get("rows"), nd[q].get("chk"))]
    if differ:
        print("\nresult mismatches (rows, chk):")
        for q in differ:
            print(f"  {q}: ({od[q].get('rows')}, {od[q].get('chk')}) -> "
                  f"({nd[q].get('rows')}, {nd[q].get('chk')})")
    print(f"\n{len(names) - len(differ)}/{len(names)} checksums identical")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main())
