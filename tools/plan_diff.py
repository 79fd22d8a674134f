#!/usr/bin/env python3
"""Compare two `graft.Plans` dump directories entry by entry.

    python3 tools/plan_diff.py <dirA> <dirB> [--diff]

Each directory holds `<entry>_<tag>.txt` files written by
`tools/launch.sh graft.Plans <sfDir> <dir> <tag> [q_a,q_b,...]`. Both dumps
are normalized for everything that changes between two runs of the same
code, then compared. Prints one line per entry that differs or exists on
one side only, then a summary; `--diff` adds a unified diff of each
differing entry. Exits 0 when every entry matches, 1 otherwise.
"""
import argparse
import difflib
import os
import re
import sys

# (pattern, replacement), applied in order to every line
LINE_RULES = [
    # expression ids and Spark Connect plan ids
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    # RDD ids in scan names: MapPartitionsRDD[4648]
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    # fresh lambda variable names of the DataFrame higher-order functions
    (re.compile(r"\b([xyz])_\d+\b"), r"\1_N"),
    # lambda classes: $$Lambda$7082/0x0000000801a3c840
    (re.compile(r"\$\$Lambda\$?\d*/0x[0-9a-f]+"), "$$Lambda"),
    # identity hashes in object toStrings: MisraGries@1e36a697
    (re.compile(r"@[0-9a-f]{5,8}\b"), "@H"),
    # temp dirs: java.nio createTempDirectory suffixes and spark-<uuid>
    (re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"), "UUID"),
    (re.compile(r"(/tmp/[A-Za-z_.-]*?)\d{6,}"), r"\1N"),
    # call-site lines of RDD scans: "localCheckpoint at Dedup.scala:812"
    (re.compile(r"(\w+\.scala):\d+"), r"\1:N"),
    # whole-stage codegen ids: "*(3) Project", "[codegen id : 3]"
    (re.compile(r"\*\(\d+\)"), "*(N)"),
    (re.compile(r"\[codegen id : \d+\]"), "[codegen id : N]"),
]

# AQE query-stage ids: the "Arguments: <id>" line of a query-stage node
STAGE_NODE = re.compile(r"^\(\d+\) \w*QueryStage\b")
STAGE_ARGS = re.compile(r"^Arguments: \d+$")


def normalize(text):
    out = []
    in_stage = False
    for line in text.splitlines():
        if STAGE_NODE.match(line):
            in_stage = True
        elif in_stage and STAGE_ARGS.match(line):
            line = "Arguments: N"
            in_stage = False
        elif not line.strip():
            in_stage = False
        for pat, rep in LINE_RULES:
            line = pat.sub(rep, line)
        out.append(line)
    return out


def entries(d):
    """entry name -> path; the tag is the suffix every file name shares."""
    files = sorted(f for f in os.listdir(d) if f.endswith(".txt"))
    if not files:
        sys.exit(f"plan_diff: no .txt dumps in {d}")
    tags = {f[:-4].rsplit("_", 1)[-1] for f in files}
    if len(tags) != 1:
        sys.exit(f"plan_diff: {d} mixes tags {sorted(tags)}")
    tag = "_" + tags.pop() + ".txt"
    return {f[: -len(tag)]: os.path.join(d, f) for f in files}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("dir_a")
    ap.add_argument("dir_b")
    ap.add_argument("--diff", action="store_true", help="print a unified diff per differing entry")
    args = ap.parse_args()
    a, b = entries(args.dir_a), entries(args.dir_b)
    differ = 0
    for name in sorted(a.keys() | b.keys()):
        if name not in b or name not in a:
            print(f"only in {'A' if name in a else 'B'}: {name}")
            differ += 1
            continue
        with open(a[name]) as fa, open(b[name]) as fb:
            na, nb = normalize(fa.read()), normalize(fb.read())
        if na != nb:
            print(f"differs: {name}")
            differ += 1
            if args.diff:
                sys.stdout.writelines(line + "\n" for line in difflib.unified_diff(
                    na, nb, a[name], b[name], lineterm="", n=1))
    print(f"{differ} of {len(a.keys() | b.keys())} entries differ")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main())
