#!/usr/bin/env python3
"""Compare two `graft.Plans` dump directories entry by entry.

    python3 tools/plan_diff.py <dirA> <dirB> [--diff]

Each directory holds `<entry>_<tag>.txt` files written by
`tools/launch.sh graft.Plans <sfDir> <dir> <tag> [q_a,q_b,...]`. Both dumps
are normalized for everything that changes between two runs of the same
code, then compared. That includes the group order of a distinct-aggregate
`Expand` (the `gid` groups and their columns), which Spark derives from
expression-id hashes and so from the entries planned before it in the
JVM. Prints one line per entry that differs or exists on one side only,
then a summary; `--diff` adds a unified diff of each differing entry.
Exits 0 when every entry matches, 1 otherwise.
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


EXPAND_NODE = re.compile(r"^\(\d+\) Expand$")
GID = re.compile(r"^gid#\d+$")


def split_top(s):
    """The comma-separated items of `s` at bracket depth 0, stripped."""
    items, depth, start = [], 0, 0
    for i, c in enumerate(s):
        if c in "([":
            depth += 1
        elif c in ")]":
            depth -= 1
        elif c == "," and depth == 0:
            items.append(s[start:i].strip())
            start = i + 1
    items.append(s[start:].strip())
    return items


def inner(item):
    return item[1:-1]


def canonical_expand(args):
    """A distinct-aggregate Expand's `Arguments:` value in canonical group
    order, plus (renames, gid_map): each run of its distinct columns in the
    original order and the canonical one, and the old -> new `gid` ids.
    None when `args` is not a distinct-aggregate Expand.

    Distinct columns are the positions before `gid` that some projection
    nulls; they are sorted by their id-free names. Each distinct group is
    then keyed by the canonical positions it keeps, and the groups take
    their ids, in key order, from the sorted ids they had.
    """
    top = split_top(args)
    if len(top) != 2 or not top[0].startswith("[[") or not top[1].startswith("["):
        return None
    projs = [split_top(inner(p)) for p in split_top(inner(top[0]))]
    outs = split_top(inner(top[1]))
    g = next((i for i, o in enumerate(outs) if GID.match(o)), None)
    if g is None or any(len(p) != len(outs) for p in projs):
        return None
    dist = [i for i in range(g) if any(p[i] == "null" for p in projs)]
    order = sorted(dist, key=lambda i: normalize_line(outs[i]))
    def permute(row):
        new = list(row)
        for slot, src in zip(dist, order):
            new[slot] = row[src]
        return new
    projs, new_outs = [permute(p) for p in projs], permute(outs)
    keyed = [(tuple(i for i in dist if p[i] != "null"), int(p[g])) for p in projs]
    groups = sorted(k for k in keyed if k[0])
    gid_map = dict(zip((old for _, old in groups), sorted(old for _, old in groups)))
    for p in projs:
        p[g] = str(gid_map.get(int(p[g]), int(p[g])))
    projs.sort(key=lambda p: int(p[g]))
    rebuilt = "[%s], [%s]" % (", ".join("[%s]" % ", ".join(p) for p in projs),
                              ", ".join(new_outs))
    run = ([outs[i] for i in dist], [new_outs[i] for i in dist])
    return rebuilt, run, outs[g], gid_map


def canonicalize_expands(lines):
    """Rewrites every distinct-aggregate Expand into canonical group order,
    and every later list run of its distinct columns and every comparison
    of its `gid` to match. Works on raw text: expression ids tell the
    columns and `gid`s of different Expands apart.
    """
    lines = list(lines)
    for n, line in enumerate(lines):
        if not (EXPAND_NODE.match(line) and n + 2 < len(lines)
                and lines[n + 2].startswith("Arguments: ")):
            continue
        done = canonical_expand(lines[n + 2][len("Arguments: "):])
        if done is None:
            continue
        rebuilt, (old_run, new_run), gid, gid_map = done
        lines[n + 2] = "Arguments: " + rebuilt
        # an item of a later list names the column itself or ends `AS <column>`
        item = lambda name: r"((?:[^,\[\]]*? AS )?%s)" % re.escape(name)
        run_re = re.compile(r"(?:(?<=\[)|(?<=\()|(?<=, ))"
                            + ", ".join(item(c) for c in old_run) + r"(?=[,)\]])")
        slot = {c: i for i, c in enumerate(old_run)}
        reorder = lambda m: ", ".join(m.group(slot[c] + 1) for c in new_run)
        gid_re = re.compile(r"(%s = )(\d+)\b" % re.escape(gid))
        regid = lambda m: m.group(1) + str(gid_map.get(int(m.group(2)), int(m.group(2))))
        for k in range(n + 3, len(lines)):
            lines[k] = gid_re.sub(regid, run_re.sub(reorder, lines[k]))
    return lines


def normalize_line(line):
    for pat, rep in LINE_RULES:
        line = pat.sub(rep, line)
    return line


def normalize(text):
    out = []
    in_stage = False
    for line in canonicalize_expands(text.splitlines()):
        if STAGE_NODE.match(line):
            in_stage = True
        elif in_stage and STAGE_ARGS.match(line):
            line = "Arguments: N"
            in_stage = False
        elif not line.strip():
            in_stage = False
        out.append(normalize_line(line))
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
