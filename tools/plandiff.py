#!/usr/bin/env python3
"""Diff two `graft.PlanDump` output directories, plan by plan.

PlanDump writes one `<query>_<suffix>.txt` per query. This tool pairs the
files of the two directories by query name (the suffix is everything after
the last `_`), normalizes away what differs between two runs of the same
plan, and prints a unified diff for every query whose plans still differ:

  - expression ids (`#123`, `#123L`) become `#`;
  - `plan_id=N` and `id=N` numbers are dropped;
  - directories in file paths (`file:/.../orders.parquet`) become `<dir>/`,
    so two checkouts reading the same fixture from different places match,
    and the random suffix of a temp-dir name (`odata_pages1532...`) goes;
  - RDD ids (`MapPartitionsRDD[651]`) and the source line of a checkpoint's
    call site (`at Stats.scala:1184`) are dropped: they follow execution
    order and line positions, not the plan;
  - the counter in a lambda variable's name (`lambda x_183`) is dropped:
    Spark numbers lambda variables JVM-wide in creation order;
  - the columns of an Expand (the node under distinct aggregates) are put
    in name order, its projections in content order with their `gid`
    literals renumbered to match, and every later attribute list that is
    a reordering of the Expand's output follows: Spark orders those
    columns by expression id, so two builds of the same code can list
    them either way.

A query present in only one directory counts as a difference.

Usage: python3 tools/plandiff.py <dirA> <dirB> [--quiet]
  --quiet  print only the per-query verdict lines and the summary
Exit status: 0 when every plan matches, 1 on any difference.
"""
import difflib
import os
import re
import sys

EXPR_ID = re.compile(r"#\d+")
NUMBERED_ID = re.compile(r"\b(plan_id|id)=\d+")
PATH_DIR = re.compile(r"(?:file:)?(?:/[^/\s\],\[]+)+/(?=[^/\s\],\[]+)")
TEMP_SUFFIX = re.compile(r"(?<=<dir>/)([A-Za-z_]+)\d{8,}")
RDD_ID = re.compile(r"RDD\[\d+\]")
SOURCE_LINE = re.compile(r"(\.scala):\d+")
LAMBDA_VAR = re.compile(r"lambda (\w+)_\d+#")


def normalize(text):
    out = []
    for line in text.splitlines():
        line = EXPR_ID.sub("#", line)
        line = NUMBERED_ID.sub(r"\1=", line)
        line = PATH_DIR.sub("<dir>/", line)
        line = TEMP_SUFFIX.sub(r"\1", line)
        line = RDD_ID.sub("RDD[]", line)
        line = SOURCE_LINE.sub(r"\1:", line)
        for v in set(LAMBDA_VAR.findall(line)):
            line = re.sub(r"\b" + v + r"_\d+#", v + "_#", line)
        out.append(line.rstrip())
    return canonical_expands(out)


def split_top(s):
    """Items of a comma-separated list, split at bracket depth 0."""
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


def relist(line, fix):
    """`line` with the items of every bracketed list passed through `fix`
    (innermost lists first); unchanged when its brackets do not balance."""
    stack, out = [], [[]]
    for c in line:
        if c in "([":
            stack.append(c)
            out.append([])
        elif c in ")]" and stack:
            inner = "".join(out.pop())
            items = split_top(inner)
            fixed = fix(items)
            if fixed != items:
                inner = ", ".join(fixed)
            out[-1].append(stack.pop() + inner + c)
        else:
            out[-1].append(c)
    return line if stack or len(out) != 1 else "".join(out[0])


def canonical_expands(lines):
    """Put every Expand's columns and projections in a build-independent
    order, and the lists and `gid` literals downstream of it with them."""
    lines = list(lines)
    for at, line in enumerate(lines):
        if not (line.startswith("Arguments: [[") and at >= 2
                and lines[at - 2].endswith(" Expand")):
            continue
        args = split_top(line[len("Arguments: "):])
        if len(args) != 2:
            continue
        projs = [split_top(p[1:-1]) for p in split_top(args[0][1:-1])]
        cols = split_top(args[1][1:-1])
        if any(len(p) != len(cols) for p in projs) or not cols[-1].startswith("gid#"):
            continue
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        g = order.index(len(cols) - 1)
        projs = sorted(([p[i] for i in order] for p in projs), key=lambda p: p[:g] + p[g + 1:])
        gids = {p[g]: str(k) for k, p in zip(sorted(p[g] for p in projs), projs)}
        for p in projs:
            p[g] = gids[p[g]]
        lines[at] = "Arguments: [%s], [%s]" % (
            ", ".join("[%s]" % ", ".join(p) for p in projs),
            ", ".join(cols[i] for i in order))
        want = sorted(cols)

        def fix(items, n=len(cols)):
            head = items[:n]
            return want + items[n:] if sorted(head) == want and head != want else items

        for k in range(at + 1, len(lines)):
            if lines[k].startswith("Arguments: [[") and lines[k - 2].endswith(" Expand"):
                break
            lines[k] = re.sub(r"(gid# = )(\d+)", lambda m: m.group(1) + gids.get(m.group(2), m.group(2)),
                              relist(lines[k], fix))
    return lines


def plans(d):
    found = {}
    for name in sorted(os.listdir(d)):
        if name.endswith(".txt") and "_" in name:
            found[name[:-len(".txt")].rsplit("_", 1)[0]] = os.path.join(d, name)
    return found


def main(argv):
    quiet = "--quiet" in argv
    args = [a for a in argv if a != "--quiet"]
    if len(args) != 2:
        sys.exit(__doc__)
    a, b = plans(args[0]), plans(args[1])
    differ = 0
    for key in sorted(set(a) | set(b)):
        if key not in a or key not in b:
            differ += 1
            print(f"ONLY  {key}: only in {args[0] if key in a else args[1]}")
            continue
        with open(a[key], encoding="utf-8") as fa, open(b[key], encoding="utf-8") as fb:
            la, lb = normalize(fa.read()), normalize(fb.read())
        if la == lb:
            print(f"SAME  {key}")
            continue
        differ += 1
        print(f"DIFF  {key}")
        if not quiet:
            sys.stdout.writelines(line + "\n" for line in difflib.unified_diff(
                la, lb, a[key], b[key], lineterm=""))
    print(f"{len(set(a) | set(b)) - differ} same, {differ} different")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
