#!/usr/bin/env python3
"""Lists the queries whose formatted plan differs between two plan dumps.

Usage: python3 tools/plan_diff.py <before.txt> <after.txt> [--show]

Each input is the text file `runMain graft.Plans <sfDir> <out>` writes: one
`========== <name> ==========` block per query, then a SUMMARY block. Before
comparing, the ids that shift whenever any plan anywhere gains or loses an
expression are masked: expression ids (`#123`), `plan_id=N`,
`Subquery:N` numbering, RDD ids, the line numbers of the `<File>.scala:<line>`
call sites in RDD names, lambda class names, object hash codes and random
temp directory names. What is left is the plan shape,
its expressions and its arguments.

Prints the changed names comma-separated on the last line (ready for
`SPARK_GRAFT_ONLY`), after one line per added, removed or changed query.
`--show` also prints a unified diff of each changed block.
"""
import difflib
import re
import sys

HEADER = re.compile(r"^========== (.+) ==========$")
MASKS = [(re.compile(r"#\d+L?"), "#_"),
         (re.compile(r"plan_id=\d+"), "plan_id=_"),
         (re.compile(r"Subquery:\d+"), "Subquery:_"),
         (re.compile(r"subquery#?\d+"), "subquery_"),
         (re.compile(r"RDD\[\d+\]"), "RDD[_]"),
         (re.compile(r"(\w\.scala):\d+"), r"\1:_"),
         (re.compile(r"\$\$Lambda\S*?@[0-9a-f]+"), "$$Lambda_"),
         (re.compile(r"@[0-9a-f]{5,}\b"), "@_"),
         (re.compile(r"(/tmp/[\w-]*?)\d{8,}(?!\d)"), r"\1_")]


def blocks(path):
    out, name, lines = {}, None, []
    for line in open(path, encoding="utf-8"):
        m = HEADER.match(line.rstrip("\n"))
        if m:
            if name is not None:
                out[name] = lines
            name, lines = m.group(1), []
            continue
        for pat, rep in MASKS:
            line = pat.sub(rep, line)
        lines.append(line)
    if name is not None:
        out[name] = lines
    out.pop("SUMMARY", None)
    return out


def main(argv):
    if len(argv) not in (3, 4) or (len(argv) == 4 and argv[3] != "--show"):
        sys.exit(__doc__)
    before, after = blocks(argv[1]), blocks(argv[2])
    changed = []
    for name in sorted(before.keys() | after.keys()):
        if name not in after:
            print(f"removed {name}")
        elif name not in before:
            print(f"added   {name}")
        elif before[name] != after[name]:
            print(f"changed {name}")
            if len(argv) == 4:
                sys.stdout.writelines(difflib.unified_diff(
                    before[name], after[name], "before", "after"))
        else:
            continue
        changed.append(name)
    print(",".join(changed))


if __name__ == "__main__":
    main(sys.argv)
