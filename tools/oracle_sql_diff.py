#!/usr/bin/env python3
"""Compare two oracle_sql.json dumps (as written by graft.Verify), query by
query.

Whitespace runs are collapsed to one space, and leading and trailing
whitespace dropped, outside single-quoted SQL literals only; text inside a
literal ('' is an escaped quote) is compared as is. Prints each query that
is missing from one side or whose SQL differs, then a count, and exits 1 if
any query differs.

A dump can be written without running any query:
  SPARK_GRAFT_ONLY=__none__ sbt "runMain graft.Verify <sfDir> <outDir>"

Usage: python3 tools/oracle_sql_diff.py <a.json> <b.json>
"""
import json
import re
import sys


def normalize(sql):
    out = []
    # alternating: text outside quotes, then a quoted literal (with its quotes)
    for i, part in enumerate(re.split(r"('(?:[^']|'')*')", sql)):
        out.append(part if i % 2 else re.sub(r"\s+", " ", part))
    return "".join(out).strip()


def main():
    if len(sys.argv) != 3:
        sys.exit("usage: oracle_sql_diff.py <a.json> <b.json>")
    with open(sys.argv[1]) as f:
        a = json.load(f)
    with open(sys.argv[2]) as f:
        b = json.load(f)
    differ = 0
    for name in sorted(set(a) | set(b)):
        if name not in a or name not in b:
            side = sys.argv[1] if name not in a else sys.argv[2]
            print(f"{name}: missing from {side}")
            differ += 1
        elif normalize(a[name]) != normalize(b[name]):
            na, nb = normalize(a[name]), normalize(b[name])
            at = next((i for i, (x, y) in enumerate(zip(na, nb)) if x != y),
                      min(len(na), len(nb)))
            print(f"{name}: differs at char {at}")
            print(f"  a: ...{na[max(0, at - 60):at + 60]}")
            print(f"  b: ...{nb[max(0, at - 60):at + 60]}")
            differ += 1
    print(f"{differ} of {len(set(a) | set(b))} queries differ")
    sys.exit(1 if differ else 0)


if __name__ == "__main__":
    main()
