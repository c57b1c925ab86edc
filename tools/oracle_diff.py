#!/usr/bin/env python3
"""Query-by-query diff of two `oracle_sql.json` dumps of `graft.Verify`.

Usage:
  python3 tools/oracle_diff.py A/oracle_sql.json B/oracle_sql.json [-v]

Each dump maps a query name to its DuckDB oracle SQL. Before comparing,
every SQL string is normalized so a change that only re-lays out the
text compares equal:
  - runs of whitespace collapse to one space;
  - whitespace next to punctuation is dropped (`a , b` -> `a,b`,
    `acc * 31 + c` -> `acc*31+c`);
  - quoted literals ('...' and "...") are kept byte for byte;
  - each dump's own verify directory (the one holding oracle_sql.json)
    and each checkout's root (the prefix of its `spark-warehouse/`) become
    `<out>` and `<root>`, so dumps from two checkouts compare equal.
Prints `SAME`/`DIFF` per query and `N/M oracles identical`; `-v` also
prints a unified diff of each differing pair of normalized strings, split
into one line after each comma or parenthesis.
Queries present on one side only count as differing. Exits 1 if any
oracle differs.
"""
import argparse
import difflib
import json
import os
import re
import sys

# a quoted literal, or a run of whitespace, or one punctuation character
TOKEN = re.compile(r"'(?:[^']|'')*'|\"(?:[^\"]|\"\")*\"|\s+|[^\w\s'\"]")
WAREHOUSE_ROOT = re.compile(r"(/[^\s'\"]*?)/spark-warehouse/")


def normalize(sql, out_dir):
    sql = sql.replace(out_dir, "<out>")
    for root in sorted(set(WAREHOUSE_ROOT.findall(sql)), key=len, reverse=True):
        sql = sql.replace(root, "<root>")
    parts = []
    pos = 0
    for m in TOKEN.finditer(sql):
        if m.start() > pos:
            parts.append(sql[pos:m.start()])
        parts.append(" " if m.group().isspace() else m.group())
        pos = m.end()
    parts.append(sql[pos:])
    out = []
    for i, p in enumerate(parts):
        if p == " ":
            prev = out[-1] if out else ""
            nxt = parts[i + 1] if i + 1 < len(parts) else ""
            if not prev or not nxt or is_punct(prev) or is_punct(nxt):
                continue
        out.append(p)
    return "".join(out)


def is_punct(tok):
    return len(tok) == 1 and not tok.isalnum() and tok not in "_'\""


def load(path):
    with open(path) as f:
        sqls = json.load(f)
    out_dir = os.path.dirname(os.path.abspath(path))
    return {q: normalize(s, out_dir) for q, s in sqls.items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("a_json")
    ap.add_argument("b_json")
    ap.add_argument("-v", "--verbose", action="store_true",
                    help="print a unified diff of each differing oracle")
    args = ap.parse_args()
    a, b = load(args.a_json), load(args.b_json)
    names = sorted(set(a) | set(b))
    same = 0
    for q in names:
        if q not in a or q not in b:
            print(f"ONLY {'A' if q in a else 'B'} {q}")
            continue
        if a[q] == b[q]:
            same += 1
            print(f"SAME {q}")
            continue
        print(f"DIFF {q}")
        if args.verbose:
            split = lambda s: [t + "\n" for t in re.split(r"(?<=[,()])", s)]
            sys.stdout.writelines(difflib.unified_diff(
                split(a[q]), split(b[q]), f"a/{q}", f"b/{q}"))
    print(f"{same}/{len(names)} oracles identical")
    return 0 if same == len(names) else 1


if __name__ == "__main__":
    sys.exit(main())
