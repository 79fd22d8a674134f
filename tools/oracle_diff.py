#!/usr/bin/env python3
"""Compare two `oracle_sql.json` dumps entry by entry.

    python3 tools/oracle_diff.py <a/oracle_sql.json> <b/oracle_sql.json> [--diff]

Each file is the `oracle_sql.json` that `graft.Verify` writes next to its
parquet dumps: registry entry name -> the DuckDB SQL its result is checked
against. The SQL of both sides is compared with every whitespace run
collapsed to one space and every `read_csv('<path>'` file path replaced by
a placeholder: the zone lookup path that `graft.etl.Dims` resolves at JVM
start (GRAFT_ZONE_CSV, `data/` under the working directory, or a temp copy
of the classpath file) differs between checkouts. Prints one line per
entry that differs or exists on one side only, then a summary; `--diff`
adds a unified diff of each differing entry, one SQL token per line.
Exits 0 when every entry matches, 1 otherwise. The oracle-side twin of
`tools/plan_diff.py`.
"""
import argparse
import difflib
import json
import re
import sys

WHITESPACE = re.compile(r"\s+")
CSV_PATH = re.compile(r"read_csv\('[^']*'")


def normalize(sql):
    sql = CSV_PATH.sub("read_csv('PATH'", sql)
    return WHITESPACE.sub(" ", sql).strip()


def load(path):
    with open(path) as f:
        return {name: normalize(sql) for name, sql in json.load(f).items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("json_a")
    ap.add_argument("json_b")
    ap.add_argument("--diff", action="store_true", help="print a unified diff per differing entry")
    args = ap.parse_args()
    a, b = load(args.json_a), load(args.json_b)
    differ = 0
    for name in sorted(a.keys() | b.keys()):
        if name not in b or name not in a:
            print(f"only in {'A' if name in a else 'B'}: {name}")
            differ += 1
            continue
        if a[name] != b[name]:
            print(f"differs: {name}")
            differ += 1
            if args.diff:
                sys.stdout.writelines(line + "\n" for line in difflib.unified_diff(
                    a[name].split(" "), b[name].split(" "),
                    f"A/{name}", f"B/{name}", lineterm="", n=3))
    print(f"{differ} of {len(a.keys() | b.keys())} entries differ")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main())
