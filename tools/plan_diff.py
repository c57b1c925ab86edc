#!/usr/bin/env python3
"""File-by-file diff of two `graft.Bench explain` output directories.

Usage:
  python3 tools/plan_diff.py A_DIR B_DIR [-v]

Each directory holds one `<query>.txt` formatted physical plan per query
(`sbt "runMain graft.Bench explain <dir> <query> ..."`). Before comparing,
every plan is normalized so two checkouts of the same code compare equal:
  - expression ids (`vec_id#123L` -> `vec_id#NL`);
  - `plan_id=` values;
  - lambda variable counters (`lambda x_20` -> `lambda x_N`), a JVM-global
    fresh-name sequence that shifts with construction order;
  - RDD ids (`MapPartitionsRDD[341]` -> `MapPartitionsRDD[N]`), a
    per-session counter that shifts with the queries run before;
  - the source line of an RDD's call site (`at Dedup.scala:659` ->
    `at Dedup.scala:N`), which moves with any edit above it;
  - JVM lambda class names and identity hashes of typed-Dataset closures
    (`Multimodal$$$Lambda$6963/0x00007f14…@5d1416ce` -> `Multimodal$$$Lambda`);
  - the checkout's absolute root (the prefix of its `spark-warehouse/`).
Prints `SAME`/`DIFF` per query and `N/M plans identical`; `-v` also
prints a unified diff of each differing pair. Queries present on one side
only count as differing. Exits 1 if any plan differs.
"""
import argparse
import difflib
import os
import re
import sys

WAREHOUSE_ROOT = re.compile(r"file:(/[^\s,\]\[]*?)/spark-warehouse/")
LAMBDA_VAR = re.compile(r"(lambda [A-Za-z_]\w*?)_\d+(?=#)")
EXPR_ID = re.compile(r"#\d+")
PLAN_ID = re.compile(r"plan_id=\d+")
RDD_ID = re.compile(r"(RDD)\[\d+\]")
CALL_SITE_LINE = re.compile(r"(at \w+\.scala):\d+")
JVM_LAMBDA = re.compile(r"(\$\$Lambda)\$\d+/0x[0-9a-f]+@[0-9a-f]+")


def normalize(text):
    for root in sorted(set(WAREHOUSE_ROOT.findall(text)), key=len, reverse=True):
        text = text.replace(root, "<root>")
    text = LAMBDA_VAR.sub(r"\1_N", text)
    text = RDD_ID.sub(r"\1[N]", text)
    text = CALL_SITE_LINE.sub(r"\1:N", text)
    text = JVM_LAMBDA.sub(r"\1", text)
    text = EXPR_ID.sub("#N", text)
    return PLAN_ID.sub("plan_id=N", text)


def plans(d):
    return {f[:-4]: os.path.join(d, f) for f in os.listdir(d) if f.endswith(".txt")}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("a_dir")
    ap.add_argument("b_dir")
    ap.add_argument("-v", "--verbose", action="store_true",
                    help="print a unified diff of each differing plan")
    args = ap.parse_args()
    a, b = plans(args.a_dir), plans(args.b_dir)
    names = sorted(set(a) | set(b))
    same = 0
    for q in names:
        if q not in a or q not in b:
            print(f"ONLY {'A' if q in a else 'B'} {q}")
            continue
        with open(a[q]) as fa, open(b[q]) as fb:
            ta, tb = normalize(fa.read()), normalize(fb.read())
        if ta == tb:
            same += 1
            print(f"SAME {q}")
            continue
        print(f"DIFF {q}")
        if args.verbose:
            sys.stdout.writelines(difflib.unified_diff(
                ta.splitlines(True), tb.splitlines(True),
                f"a/{q}.txt", f"b/{q}.txt"))
    print(f"{same}/{len(names)} plans identical")
    return 0 if same == len(names) else 1


if __name__ == "__main__":
    sys.exit(main())
